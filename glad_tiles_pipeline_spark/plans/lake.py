"""S7/S8/S10 — the snapshot-versioned lake-table format (SURVEY.md §4.3).

No Iceberg/Delta jar exists in this sandbox (SURVEY.md §0), so the Iceberg
sink semantics required by BASELINE.json — snapshot isolation, MERGE,
schema evolution with stable field ids, snapshot-ID fencing — are
implemented from scratch as a minimal manifest-log table format over
Parquet.  The ``LakeTable`` interface (scan / commit / evolve /
batch_committed) is deliberately shaped so a real Iceberg backend
(``MERGE INTO`` + ``ALTER TABLE`` + snapshot-property fencing) can replace
it verbatim when a runtime jar is available.

Layout on disk::

    root/
      manifests/v{N}.json     one immutable manifest per snapshot
      data/<commit-uuid>/bucket=<b>/part-*.parquet

Concurrency & exactly-once (BASELINE.json north_star "idempotent MERGE with
snapshot-ID fencing"):

  * A committer writes its data files FIRST (invisible until referenced),
    then publishes manifest v{parent+1} via ``os.link(tmp, final)`` —
    ``link(2)`` fails with EEXIST if the target exists, so exactly one of
    two racing committers with the same parent wins; the loser gets
    ``CommitConflict`` and must re-plan against the new snapshot.
  * Orphan data files from a crashed/lost commit are never referenced by
    any manifest and are ignored by every reader (crash-safety test §5.4).
  * Every manifest records its ``batch_id``; re-applying an
    already-committed batch is detected and skipped (idempotent replay).
    Test-scale lookup walks the manifest list; a production deployment
    keeps a batch-id index, same contract.

Schema evolution (§1.3): columns carry stable integer field ids.  A rename
changes only the display name for an id; a widen changes only the type.
Old data files are NEVER rewritten — the scan projects each file through
the field-id mapping of the schema version it was written under
(name-mapping, Iceberg-style), casting widened types on read.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FINAL_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("content_sha", T.StringType()),
    ]
)

# Widenings allowed by `evolve` (Iceberg's safe promotions).
ALLOWED_WIDEN: set[tuple[str, str]] = {
    ("int", "bigint"),
    ("int", "double"),
    ("bigint", "double"),
    ("float", "double"),
    ("decimal(10,2)", "decimal(20,2)"),
}

KEY_FIELDS = ("repo", "path")

# System columns present in EVERY data file, outside the logical schema.
# They carry the LWW ordering metadata and delete tombstones: a MERGE must
# compare incoming events against the commit order already in the table
# (late events cross batch boundaries), and a winning delete must leave a
# tombstone so a still-older event in a later batch cannot resurrect the key.
# Tombstones are retained indefinitely here; production GC would drop them
# once the changelog's lateness horizon (watermark) has passed.
SYSTEM_FIELDS = T.StructType(
    [
        T.StructField("_commit_seq", T.LongType()),
        T.StructField("_offset", T.LongType()),
        T.StructField("_deleted", T.BooleanType()),
        # Pre-dedup event count collapsed into this row within its source
        # batch — lets the merge derive events_read/dupes metrics by reading
        # back the (tiny, column-pruned) system columns of files it just
        # wrote instead of running a separate stats scan over the raw batch.
        T.StructField("_n_src_events", T.LongType()),
    ]
)


class CommitConflict(Exception):
    """Another writer published a snapshot with our expected parent."""


def _stats_may_match(f: dict, ranges: dict[str, tuple[int, int]]) -> bool:
    """Per-file min/max intersection test; files lacking a column's stats
    (legacy writers) are kept — pruning must stay conservative."""
    stats = f.get("stats") or {}
    for col, (lo, hi) in ranges.items():
        s = stats.get(col)
        if s is not None and (s[1] < lo or s[0] > hi):
            return False
    return True


@functools.lru_cache(maxsize=None)
def _spark_type(type_str: str) -> T.DataType:
    # each parse is a JVM round trip (~2 ms); the type vocabulary is tiny
    return T._parse_datatype_string(type_str)


def _row_schema(fields: list[dict]) -> T.StructType:
    """Physical schema of a row file written under ``fields``: the table
    columns, then the system columns."""
    return T.StructType(
        [T.StructField(f["name"], _spark_type(f["type"])) for f in fields]
        + list(SYSTEM_FIELDS.fields)
    )


class ManifestIO:
    """The ~7 filesystem primitives the manifest log needs, isolated so an
    object-store backend can replace them without touching commit logic.
    Data files themselves are written/read by Spark executors directly
    (``df.write.parquet``) — this seam carries only the tiny metadata side:
    manifests, batch-index markers, vacuum bookkeeping.

    Mapping for an S3/Iceberg deployment, per method:

    * ``put_if_absent``  — the commit CAS.  S3: conditional PUT with
      ``If-None-Match: *`` (supported since 2024); Iceberg: the catalog's
      atomic swap (``commitTransaction``); Dynamo/etcd: conditional write.
    * ``put_atomic``     — last-writer-wins overwrite.  S3: plain PUT
      (atomic per object); used only for monotone markers
      (``indexed_through``, ``vacuum.json``) where a lost race is re-done.
    * ``read_text`` / ``exists`` / ``list_names`` — GET / HEAD /
      ListObjectsV2 with a prefix.
    * ``delete`` / ``walk_data_files`` — DeleteObject / ListObjectsV2 over
      the data prefix (S3 has no directories: ``rmdir_if_empty`` becomes a
      no-op and ``mtime`` comes from the object's LastModified).
    """

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def list_names(self, dirpath: str) -> list[str]:
        raise NotImplementedError

    def put_if_absent(self, path: str, data: str) -> bool:
        """Durably create ``path`` with ``data`` iff absent; True on win."""
        raise NotImplementedError

    def put_atomic(self, path: str, data: str) -> None:
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    def size(self, path: str) -> int:
        """Object size in bytes (S3: HEAD's Content-Length)."""
        raise NotImplementedError

    def walk_data_files(self, root: str):
        """Yield (abs_path, size_bytes, mtime_epoch) for every file under
        ``root``, depth-first so empty dirs can be pruned afterwards."""
        raise NotImplementedError

    def makedirs(self, path: str, exist_ok: bool = True) -> None:
        raise NotImplementedError

    def rmdir_if_empty(self, path: str) -> None:
        raise NotImplementedError


class LocalManifestIO(ManifestIO):
    """POSIX implementation: create-if-absent via ``os.link`` (EEXIST on a
    lost race), overwrite via ``os.replace`` — both atomic on one host/NFS."""

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def list_names(self, dirpath: str) -> list[str]:
        return os.listdir(dirpath)

    @staticmethod
    def _fsync_dir(path: str) -> None:
        # the rename/link itself lives in the parent directory's entry
        # table; without this fsync the file contents are durable but the
        # *name* can be lost or reordered on power loss
        fd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def put_if_absent(self, path: str, data: str) -> bool:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
            self._fsync_dir(path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def put_atomic(self, path: str, data: str) -> None:
        # fsync file THEN rename THEN fsync the parent dir: rollback's
        # ordering argument ("dead range recorded BEFORE the manifest
        # publishes") must hold across power loss, so neither the contents
        # nor the rename may be reordered after a later durable
        # put_if_absent
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        self._fsync_dir(path)

    def delete(self, path: str) -> None:
        os.unlink(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def walk_data_files(self, root: str):
        for dirpath, _dirnames, filenames in os.walk(root, topdown=False):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                st = os.stat(full)
                yield full, st.st_size, st.st_mtime

    def makedirs(self, path: str, exist_ok: bool = True) -> None:
        os.makedirs(path, exist_ok=exist_ok)

    def rmdir_if_empty(self, path: str) -> None:
        if os.path.isdir(path) and not os.listdir(path):
            os.rmdir(path)


class InMemoryManifestIO(ManifestIO):
    """Second real backend, proving the seam is complete: ALL metadata
    (manifests, batch-index markers, vacuum/rollback records) lives in a
    process-local dict — the shape of the Dynamo/catalog half of an S3
    deployment — while data files stay on the filesystem Spark executors
    write to.  Any metadata access that bypassed the seam would hit disk
    and fail the no-files-on-disk assertion in tests/test_manifest_io.py.

    Routing: paths under ``<root>/manifests`` plus the root-level
    bookkeeping JSONs are metadata; everything else (the ``data/`` tree)
    delegates to the local filesystem.  Single-process by construction —
    the CAS is a dict setdefault — which is exactly a catalog's job in the
    real deployment."""

    _META_BASENAMES = ("vacuum.json",)

    def __init__(self, root: str):
        self.root = root
        self._meta: dict[str, str] = {}
        self._dirs: set[str] = set()
        self._local = LocalManifestIO()

    def _is_meta(self, path: str) -> bool:
        rel = os.path.relpath(path, self.root)
        return rel.split(os.sep)[0] == "manifests" or rel in self._META_BASENAMES

    def read_text(self, path: str) -> str:
        if self._is_meta(path):
            return self._meta[path]
        return self._local.read_text(path)

    def exists(self, path: str) -> bool:
        if self._is_meta(path):
            if path in self._meta or path in self._dirs:
                return True
            # object-store semantics: a "directory" exists iff some key has
            # it as a prefix (writes never materialize parent dirs)
            pre = path.rstrip(os.sep) + os.sep
            return any(p.startswith(pre) for p in self._meta)
        return self._local.exists(path)

    def list_names(self, dirpath: str) -> list[str]:
        if self._is_meta(dirpath):
            pre = dirpath.rstrip(os.sep) + os.sep
            return sorted(
                {p[len(pre):].split(os.sep)[0] for p in self._meta if p.startswith(pre)}
            )
        return self._local.list_names(dirpath)

    def put_if_absent(self, path: str, data: str) -> bool:
        if self._is_meta(path):
            # explicit membership check, NOT `setdefault(...) is data`: an
            # identity test falsely reports a CAS win when a retry passes
            # the same (or interned-equal) string object already stored
            if path in self._meta:
                return False
            self._meta[path] = data
            return True
        return self._local.put_if_absent(path, data)

    def put_atomic(self, path: str, data: str) -> None:
        if self._is_meta(path):
            self._meta[path] = data
        else:
            self._local.put_atomic(path, data)

    def delete(self, path: str) -> None:
        if self._is_meta(path):
            del self._meta[path]
        else:
            self._local.delete(path)

    def size(self, path: str) -> int:
        if self._is_meta(path):
            return len(self._meta[path])
        return self._local.size(path)

    def walk_data_files(self, root: str):
        return self._local.walk_data_files(root)

    def makedirs(self, path: str, exist_ok: bool = True) -> None:
        if self._is_meta(path):
            if not exist_ok and path in self._dirs:
                raise FileExistsError(path)
            self._dirs.add(path)
        else:
            self._local.makedirs(path, exist_ok=exist_ok)

    def rmdir_if_empty(self, path: str) -> None:
        if not self._is_meta(path):
            self._local.rmdir_if_empty(path)


class LakeTable:
    """Snapshot-versioned Parquet table with manifest-log commits.

    ``branch`` (default ``"main"``) opens a handle on a staging branch
    (S23, write-audit-publish): branch commits publish into an isolated
    manifest directory with its own CAS chain, batch-id index, and
    rollback ranges, sharing the main table's data directory and pre-fork
    history.  See ``create_branch`` / ``publish_branch``."""

    def __init__(self, root: str, io: ManifestIO | None = None,
                 branch: str = "main"):
        self.root = root
        self.io = io or LocalManifestIO()
        self.branch_name = branch
        self._main_manifest_dir = os.path.join(root, "manifests")
        if branch == "main":
            self._manifest_dir = self._main_manifest_dir
        else:
            self._manifest_dir = os.path.join(
                self._main_manifest_dir, "branches", branch
            )
        self._branch_meta_cache: dict | None = None

    # -- creation / metadata -------------------------------------------------

    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType = FINAL_SCHEMA,
        n_buckets: int = 16,
        io: ManifestIO | None = None,
    ) -> "LakeTable":
        io = io or LocalManifestIO()
        io.makedirs(os.path.join(root, "manifests"), exist_ok=False)
        io.makedirs(os.path.join(root, "data"), exist_ok=True)
        fields = [
            {"id": i + 1, "name": f.name, "type": f.dataType.simpleString(),
             "source": f.name}
            for i, f in enumerate(schema.fields)
        ]
        table = cls(root, io=io)
        manifest = {
            "snapshot_id": 0,
            "parent_snapshot_id": None,
            "batch_id": "__create__",
            "n_buckets": n_buckets,
            # bucket-layout generations (S21): every data file is tagged with
            # the generation it was written under; a re-bucketing migration
            # adds a generation and retires the old one file-by-file
            "layouts": {"1": n_buckets},
            "write_gen": 1,
            "schema_version": 1,
            "schemas": {"1": fields},
            "files": [],
            "offsets": {"lo": None, "hi": -1},
            "lineage": {},
            "metrics": {},
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        table._publish(manifest)
        return table

    def _manifest_path(self, snapshot_id: int) -> str:
        p = os.path.join(self._manifest_dir, f"v{snapshot_id}.json")
        if self._manifest_dir is not self._main_manifest_dir:
            # pre-fork history is shared with main: a branch directory holds
            # only the fork-point copy + branch commits, so older snapshot
            # reads (time travel, history, incremental windows) fall back
            if snapshot_id < self._branch_meta()["fork_snapshot_id"]:
                return os.path.join(
                    self._main_manifest_dir, f"v{snapshot_id}.json"
                )
        return p

    # -- branches (S23: write-audit-publish) -----------------------------------

    def _branch_meta(self) -> dict:
        if self._branch_meta_cache is None:
            self._branch_meta_cache = json.loads(
                self.io.read_text(os.path.join(self._manifest_dir, "branch.json"))
            )
        return self._branch_meta_cache

    def create_branch(self, name: str) -> "LakeTable":
        """Fork a staging branch at the current main head (Iceberg
        write-audit-publish parity).  Branch commits are REAL commits —
        same fencing, idempotence index, MoR/compact machinery — published
        into an isolated manifest chain main readers never see; data files
        land in the shared data directory (vacuum retains files referenced
        by live branches; after ``drop_branch`` they age out as orphans).
        Audit = any read on the returned handle (scan / incremental /
        history); promote with ``publish_branch``, discard with
        ``drop_branch``."""
        if self.branch_name != "main":
            raise ValueError("branch from the main table handle only")
        if not re.fullmatch(r"[A-Za-z0-9_-]{1,64}", name) or name == "main":
            raise ValueError(f"invalid branch name {name!r}")
        bdir = os.path.join(self._main_manifest_dir, "branches", name)
        fork = self.current_snapshot_id()
        self.io.makedirs(bdir, exist_ok=True)
        meta = {
            "name": name,
            "fork_snapshot_id": fork,
            "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if not self.io.put_if_absent(
            os.path.join(bdir, "branch.json"), json.dumps(meta)
        ):
            raise ValueError(f"branch {name!r} already exists")
        # seed the branch chain with a verbatim copy of the fork manifest
        # (self-describing head) and fence the idempotence index at the
        # fork: pre-fork batches are guarded by the offsets high-water mark
        # the fork manifest carries, so the suffix walk never needs them
        self.io.put_if_absent(
            os.path.join(bdir, f"v{fork}.json"),
            self.io.read_text(self._manifest_path(fork)),
        )
        self.io.put_atomic(
            os.path.join(bdir, "indexed_through.json"),
            json.dumps({"snapshot_id": fork}),
        )
        return LakeTable(self.root, io=self.io, branch=name)

    # -- tags (S24: named immutable snapshot refs) ------------------------------

    def _tags_dir(self) -> str:
        return os.path.join(self._main_manifest_dir, "tags")

    def _tag_path(self, name: str) -> str:
        # tag names are pre-validated to [A-Za-z0-9._-]{1,64}: filename-safe
        return os.path.join(self._tags_dir(), f"{name}.json")

    def tags(self) -> dict[str, int]:
        """Named snapshot refs (Iceberg tag parity): {name: snapshot_id}.

        One put-if-absent file per tag (mirroring the batch-marker
        pattern) so concurrent taggers CAS instead of read-modify-writing
        a shared JSON — a lost race surfaces as "tag exists", never as a
        silently dropped update."""
        out: dict[str, int] = {}
        legacy = os.path.join(self._main_manifest_dir, "tags.json")
        if self.io.exists(legacy):  # pre-CAS tables remain readable
            out.update(
                {k: int(v) for k, v in json.loads(self.io.read_text(legacy)).items()}
            )
        tdir = self._tags_dir()
        if self.io.exists(tdir):
            for fn in self.io.list_names(tdir):
                if fn.endswith(".json"):
                    rec = json.loads(self.io.read_text(os.path.join(tdir, fn)))
                    out[fn[: -len(".json")]] = int(rec["snapshot_id"])
        return out

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a snapshot under a name — an immutable audit/release ref
        (``scan(tag=...)``).  Tagged snapshots survive vacuum: their data
        files are retained and the vacuum-horizon guard exempts them, so a
        release cut months ago stays reproducible while ordinary history
        ages out.  Single-admin op (like vacuum/rollback); main-only."""
        if self.branch_name != "main":
            raise ValueError("tag from the main table handle only")
        if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name):
            raise ValueError(f"invalid tag name {name!r}")
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        self.manifest(sid)  # must exist
        if self._is_dead(sid):
            raise ValueError(f"snapshot v{sid} was rolled back; untaggable")
        if sid < self.vacuum_horizon():
            # vacuum exempts TAGGED snapshots going forward, but this one's
            # files are already gone — the tag would be broken at creation
            raise ValueError(
                f"snapshot v{sid} is below the vacuum horizon "
                f"{self.vacuum_horizon()}; its data files were expired"
            )
        existing = self.tags().get(name)
        if existing is not None:
            if existing != sid:
                raise ValueError(
                    f"tag {name!r} already pins v{existing}; tags are "
                    "immutable — drop it first"
                )
            return sid  # idempotent re-create
        payload = json.dumps({"name": name, "snapshot_id": sid})
        if not self.io.put_if_absent(self._tag_path(name), payload):
            rec = json.loads(self.io.read_text(self._tag_path(name)))
            if int(rec["snapshot_id"]) != sid:
                raise ValueError(
                    f"tag {name!r} already pins v{rec['snapshot_id']}; "
                    "tags are immutable — drop it first"
                )
            return sid  # lost the CAS to an identical tagger
        # Close the tag/vacuum race: vacuum publishes its horizon BEFORE
        # deleting files and reads tags AFTER that publish, so if the
        # horizon we re-read here still clears sid, any concurrent vacuum
        # that could expire sid's files will see this tag file and retain
        # them; if the horizon moved past sid, the tag may be broken —
        # undo and fail loudly rather than leave a dangling ref.
        if sid < self.vacuum_horizon():
            self.io.delete(self._tag_path(name))
            raise ValueError(
                f"snapshot v{sid} fell below the vacuum horizon while "
                "tagging; tag aborted"
            )
        return sid

    def drop_tag(self, name: str) -> None:
        if self.branch_name != "main":
            raise ValueError("drop tags from the main table handle only")
        if self.io.exists(self._tag_path(name)):
            self.io.delete(self._tag_path(name))
            return
        legacy = os.path.join(self._main_manifest_dir, "tags.json")
        if self.io.exists(legacy):  # pre-CAS tables: single-admin caveat
            cur = json.loads(self.io.read_text(legacy))
            if name in cur:
                del cur[name]
                self.io.put_atomic(legacy, json.dumps(cur))
                return
        raise ValueError(f"no such tag {name!r}")

    def branch(self, name: str) -> "LakeTable":
        """Open an existing staging branch."""
        t = LakeTable(self.root, io=self.io, branch=name)
        if not self.io.exists(os.path.join(t._manifest_dir, "branch.json")):
            raise ValueError(f"no such branch {name!r}")
        return t

    def list_branches(self) -> list[str]:
        broot = os.path.join(self._main_manifest_dir, "branches")
        if not self.io.exists(broot):
            return []
        return sorted(
            n
            for n in self.io.list_names(broot)
            if self.io.exists(os.path.join(broot, n, "branch.json"))
        )

    def publish_branch(self, name: str) -> dict:
        """Fast-forward main to the branch head: each staged manifest is
        re-published VERBATIM into main's chain (metadata-only — data files
        are already in place), its batch id indexed so main-side replay
        skips the published batches.  Publishable only when main still
        points at the fork (or at a prefix of this branch — a crashed
        publish resumes); anything else is a non-fast-forward →
        CommitConflict (drop and re-stage on a fresh branch; rebase would
        re-order LWW arbitration and is deliberately unsupported).
        Refuses branches carrying rollbacks: dead ranges are branch-local
        metadata a verbatim manifest copy cannot carry — the branch head
        already reflects the restore, so drop + re-stage instead."""
        if self.branch_name != "main":
            raise ValueError("publish from the main table handle only")
        br = self.branch(name)
        fork = br._branch_meta()["fork_snapshot_id"]
        head = br.current_snapshot_id()
        if br._dead_ranges():
            raise ValueError(
                f"branch {name!r} contains rollbacks; drop and re-stage"
            )
        if self._is_dead(fork):
            raise CommitConflict(
                f"fork snapshot v{fork} was rolled back on main; "
                f"branch {name!r} is unpublishable"
            )
        main_head = self.current_snapshot_id()
        if main_head > head:
            raise CommitConflict(
                f"main (v{main_head}) advanced past branch {name!r} head "
                f"(v{head}); not a fast-forward"
            )
        # resumable fast-forward: main may already hold a prefix of the
        # branch chain (crashed earlier publish) — verify batch-id equality
        # snapshot by snapshot, then continue from main's head
        for sid in range(fork + 1, main_head + 1):
            if self.manifest(sid)["batch_id"] != br.manifest(sid)["batch_id"]:
                raise CommitConflict(
                    f"main diverged from branch {name!r} at v{sid}; "
                    "not a fast-forward"
                )
        published = 0
        for sid in range(main_head + 1, head + 1):
            m = br.manifest(sid)
            try:
                self._publish(m)
            except CommitConflict:
                raise CommitConflict(
                    f"main advanced concurrently mid-publish of branch "
                    f"{name!r} ({published} snapshots landed, which remain "
                    "valid commits)"
                ) from None
            self._write_batch_marker(m["batch_id"], sid)
            self._advance_indexed_through(sid)
            published += 1
        return {"branch": name, "published": published,
                "snapshot_id": head, "fork_snapshot_id": fork}

    def drop_branch(self, name: str) -> None:
        """Delete a staging branch (metadata only).  Data files referenced
        only by the dropped branch become unreferenced orphans and age out
        under vacuum's grace window."""
        if self.branch_name != "main":
            raise ValueError("drop from the main table handle only")
        bdir = os.path.join(self._main_manifest_dir, "branches", name)
        if not self.io.exists(os.path.join(bdir, "branch.json")):
            raise ValueError(f"no such branch {name!r}")
        # an exists() probe can't detect the index on key-value backends
        # (markers are bare keys, no directory entry) — list and tolerate
        # the directory's absence instead
        idx = os.path.join(bdir, "batch-index")
        try:
            marker_names = self.io.list_names(idx)
        except FileNotFoundError:
            marker_names = []
        for n in marker_names:
            self.io.delete(os.path.join(idx, n))
        self.io.rmdir_if_empty(idx)
        for n in self.io.list_names(bdir):
            if n not in ("branch.json", "batch-index"):
                self.io.delete(os.path.join(bdir, n))
        self.io.delete(os.path.join(bdir, "branch.json"))
        self.io.rmdir_if_empty(bdir)

    def current_snapshot_id(self) -> int:
        ids = [
            int(f[1:-5])
            for f in self.io.list_names(self._manifest_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        if not ids:
            raise FileNotFoundError(f"no manifests under {self._manifest_dir}")
        return max(ids)

    def manifest(self, snapshot_id: int | None = None) -> dict:
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
        return json.loads(self.io.read_text(self._manifest_path(snapshot_id)))

    @property
    def n_buckets(self) -> int:
        """Width of the CURRENT write layout (no longer the creation-time
        constant: a completed re-bucketing migration changes it)."""
        gen, width = self.write_layout()
        return width

    # -- bucket-layout generations (S21) ---------------------------------------

    def layout_info(self, snapshot_id: int | None = None) -> dict:
        """Layout state of a snapshot: ``{"layouts": {gen: n_buckets},
        "write_gen": g, "migration": {...} | None}``.  Legacy manifests
        (written before layout generations existed) read as a single
        generation 1 of the creation-time width."""
        m = self.manifest(snapshot_id)
        raw = m.get("layouts") or {"1": m["n_buckets"]}
        return {
            "layouts": {int(k): int(v) for k, v in raw.items()},
            "write_gen": int(m.get("write_gen", 1)),
            "migration": m.get("migration"),
        }

    def write_layout(self, snapshot_id: int | None = None) -> tuple[int, int]:
        """(generation, n_buckets) new data files are routed under."""
        info = self.layout_info(snapshot_id)
        g = info["write_gen"]
        return g, info["layouts"][g]

    def migration(self) -> dict | None:
        """Active re-bucketing migration state, or None."""
        return self.layout_info()["migration"]

    def current_fields(self, snapshot_id: int | None = None) -> list[dict]:
        m = self.manifest(snapshot_id)
        return m["schemas"][str(m["schema_version"])]

    def current_schema(self, snapshot_id: int | None = None) -> T.StructType:
        return T.StructType(
            [
                T.StructField(f["name"], _spark_type(f["type"]))
                for f in self.current_fields(snapshot_id)
            ]
        )

    def last_committed_offset(self, source: str | None = None) -> int:
        """Resume point.  ``source=None`` keeps the legacy reading — the
        CURRENT manifest's window verbatim (derived-sink catch-up depends
        on verbatim: a regressed window only widens its catch-up).  A
        named read returns that source's own monotone high-water from the
        per-source channels (S29) — under multi-writer interleaving the
        verbatim scalar alternates between writers and is meaningless as
        a resume point, which is exactly why the channels exist.  The
        ``default`` channel falls back to the scalar for manifests
        written before channels existed; an unknown named source reads
        -1 (never committed)."""
        m = self.manifest()
        if source is None:
            return m["offsets"]["hi"]
        chans = m.get("source_offsets") or {}
        if source in chans:
            return int(chans[source]["hi"])
        return int(m["offsets"]["hi"]) if source == "default" else -1

    # -- batch-id index (amortized O(1) idempotence lookups) -------------------
    #
    # Round 1 walked every manifest per lookup — O(snapshots) driver-side
    # JSON reads, called ≥2× per commit → O(N²) over a long ingest.  The
    # index is derivable state: one tiny marker file per batch_id (named by
    # its sha256, since batch ids are arbitrary strings) plus an
    # ``indexed_through`` high-water mark S guaranteeing every snapshot ≤ S
    # has its marker.  Lookups hit the marker directly; only the (S, cur]
    # suffix of manifests — normally 0 or 1 — is ever walked, and walking it
    # REPAIRS the index (markers re-derived from manifests), so a crash
    # between manifest publish and marker write loses nothing.

    def _batch_marker_path(self, batch_id: str) -> str:
        import hashlib

        h = hashlib.sha256(batch_id.encode()).hexdigest()[:32]
        return os.path.join(self._manifest_dir, "batch-index", f"{h}.json")

    def _write_batch_marker(self, batch_id: str, snapshot_id: int) -> None:
        """Create-if-absent marker (idempotent; racers write identical
        content, so a lost CAS is success).  One exception needs an
        overwrite: a stale marker pointing at a ROLLED-BACK snapshot (crash
        between rollback publish and marker GC) must not shadow the batch's
        re-commit — left in place it would make ``batch_committed`` answer
        None forever (fast path sees dead, suffix walk can't win the CAS),
        re-applying the batch on every replay."""
        final = self._batch_marker_path(batch_id)
        payload = json.dumps({"batch_id": batch_id, "snapshot_id": snapshot_id})
        if not self.io.put_if_absent(final, payload):
            rec = json.loads(self.io.read_text(final))
            if rec["batch_id"] == batch_id and self._is_dead(
                int(rec["snapshot_id"])
            ):
                self.io.put_atomic(final, payload)

    def _indexed_through(self) -> int:
        p = os.path.join(self._manifest_dir, "indexed_through.json")
        if not self.io.exists(p):
            return -1
        return int(json.loads(self.io.read_text(p))["snapshot_id"])

    def _advance_indexed_through(self, snapshot_id: int) -> None:
        """Monotone atomic advance (a lost race just re-indexes a suffix)."""
        if snapshot_id <= self._indexed_through():
            return
        p = os.path.join(self._manifest_dir, "indexed_through.json")
        self.io.put_atomic(p, json.dumps({"snapshot_id": snapshot_id}))

    def batch_committed(self, batch_id: str) -> int | None:
        """Snapshot id that committed ``batch_id``, or None.

        Amortized O(1): marker hit, else index the un-walked manifest suffix
        (only snapshots published since the last call) and re-check."""
        dead = self._dead_ranges()
        marker = self._batch_marker_path(batch_id)
        if self.io.exists(marker):
            rec = json.loads(self.io.read_text(marker))
            # the dead-range check makes a rolled-back batch re-appliable
            # even if its (stale) marker survived a crash before marker GC
            if rec["batch_id"] == batch_id and not self._is_dead(
                int(rec["snapshot_id"]), dead
            ):
                return int(rec["snapshot_id"])
        found: int | None = None
        cur = self.current_snapshot_id()
        for sid in range(cur, self._indexed_through(), -1):
            if self._is_dead(sid, dead):
                continue  # rolled back: neither index nor match it
            bid = self.manifest(sid)["batch_id"]
            self._write_batch_marker(bid, sid)
            if bid == batch_id:
                found = sid
        self._advance_indexed_through(cur)
        if found is None and self.branch_name != "main":
            # Pre-fork history is shared with main, but a branch's marker
            # index is seeded empty with ``indexed_through`` at the fork —
            # the suffix walk above never reaches pre-fork manifests.
            # Consult main's index and accept only pre-fork commits, so
            # apply_batch's "no-op on committed batch_id" contract holds on
            # branch handles too (post-fork commits on MAIN must NOT count:
            # the branch forked before them and never saw their effects).
            fork = self._branch_meta()["fork_snapshot_id"]
            sid = LakeTable(self.root, io=self.io).batch_committed(batch_id)
            if sid is not None and sid <= fork:
                found = sid
        return found

    # -- scan (S7) ------------------------------------------------------------

    def unresolved_buckets(self, snapshot_id: int | None = None) -> set[int]:
        """Buckets holding merge-on-read state not yet compacted: LWW delta
        files, tombstone memos, or delete-vector files (S26)."""
        return {
            f["bucket"]
            for f in self.manifest(snapshot_id)["files"]
            if f.get("delta") or f.get("kind") in ("tomb", "dv")
        }

    def scan(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        buckets: set[int] | None = None,
        include_system: bool = False,
        offset_range: tuple[int, int] | None = None,
        commit_seq_range: tuple[int, int] | None = None,
        repos: "list[str] | set[str] | None" = None,
        tag: str | None = None,
        key: tuple[str, str] | None = None,
        with_positions: bool = False,
        as_of: "str | float | None" = None,
    ) -> DataFrame:
        """Read the table as of ``snapshot_id``, optionally pruned to a
        bucket subset.  Bucket pruning is the engine's custom partition-
        pruning rule (SURVEY.md §4.1): a MERGE touching K of B buckets reads
        and rewrites only those K — Catalyst never sees the untouched data.

        Files written under old schema versions are projected through the
        field-id mapping: select by the old name, cast to the current type,
        alias to the current name; fields added since → NULL.

        ``include_system=False`` (readers): tombstones filtered out, system
        columns dropped.  ``include_system=True`` (the MERGE path): raw rows
        including tombstones and LWW ordering metadata.

        ``offset_range`` / ``commit_seq_range`` (inclusive (lo, hi)): keep
        only rows whose WINNING change falls in the window — the audit /
        "state as changed since offset X" read.  Always row-exact; on
        snapshots with no unresolved delta files (CoW or freshly compacted)
        the per-file min/max stats the writers record in the manifest drop
        non-intersecting files WITHOUT opening them (Iceberg per-file
        column-stats pruning; gate:
        tests/test_stats_pruning.py).  Snapshots that still need LWW
        resolution read everything and filter post-resolution: pruning
        before the arg-max could crown a pruned key's older version —
        exactness beats IO there.  Files without recorded stats (legacy)
        are kept conservatively.

        ``repos`` (collection of repo names): current state of just those
        repos.  Prunes on per-file repo min/max and, because the predicate
        is on the KEY, prunes soundly on every snapshot — delta-heavy or
        not — before LWW resolution; a repo-only predicate cannot bucket-
        prune (buckets hash the full (repo, path) key), so file stats are
        the only IO lever for it.  Effective when ingest batches are
        repo-clustered (the common CDC shape: a push touches one repo).
        ``tag``: read the snapshot a named ref pins (S24).  Tagged reads
        are exempt from the vacuum-horizon guard — vacuum retains their
        files, so a release tag stays readable after its history expired.

        ``key=(repo, path)``: exact-key point lookup (see ``lookup``) —
        repo-stats pruning plus path-stats pruning inside single-repo
        files, then the exact-key filter.
        """
        if key is not None:
            if repos is not None:
                raise ValueError("pass key= or repos=, not both")
            repos = [key[0]]
        if as_of is not None:
            # timestamp travel resolves to a snapshot id up front, then
            # rides the ordinary id path (including the vacuum-horizon
            # guard below — an expired as-of read refuses like any other)
            if snapshot_id is not None or tag is not None:
                raise ValueError("pass exactly one of snapshot_id/tag/as_of")
            snapshot_id = self.snapshot_as_of(as_of)
        if tag is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id or tag, not both")
            if self.branch_name != "main":
                # tags pin MAIN snapshot ids; a branch chain diverges at the
                # fork, so resolving one here could silently read staged data
                raise ValueError("tags resolve on the main table handle only")
            tag_map = self.tags()
            if tag not in tag_map:
                raise ValueError(f"no such tag {tag!r}")
            snapshot_id = tag_map[tag]
        elif snapshot_id is not None and snapshot_id < self.vacuum_horizon():
            if snapshot_id not in set(self.tags().values()):
                raise ValueError(
                    f"snapshot {snapshot_id} is below the vacuum horizon "
                    f"{self.vacuum_horizon()}; its data files were expired"
                )
        if with_positions and not include_system:
            raise ValueError("with_positions requires include_system=True")
        m = self.manifest(snapshot_id)
        cur_fields = m["schemas"][str(m["schema_version"])]
        cur_schema = T.StructType(
            [T.StructField(f["name"], _spark_type(f["type"])) for f in cur_fields]
            + (list(SYSTEM_FIELDS.fields) if include_system else [])
            + ([T.StructField("__fp", T.StringType()),
                T.StructField("__pos", T.LongType())] if with_positions else [])
        )
        # S26 positional-delete entries: ``dv`` files are (path, pos) kill
        # lists, never row data; ``tomb`` files are full-schema tombstone
        # MEMOS (delete winners under mor_dv) that back write-time LWW
        # arbitration and raw reads, but are invisible to resolved readers
        # (their effect is realized by the kills + absence of the key)
        dv_entries = [f for f in m["files"] if f.get("kind") == "dv"]
        files = [f for f in m["files"] if f.get("kind") != "dv"]
        if buckets is not None:
            if m.get("migration") is not None:
                # mid-migration, a numeric bucket id is ambiguous between
                # layout generations — refuse loudly (the ops that prune,
                # CoW and compact, refuse to run mid-migration for the same
                # reason); full scans stay exact throughout.
                raise ValueError(
                    "bucket-pruned scan during an active re-bucketing "
                    "migration is ambiguous (two layout generations are "
                    "live); scan without buckets= or finish the migration"
                )
            files = [f for f in files if f["bucket"] in buckets]
        if repos is not None:
            # Repo pruning is KEY-based — every version of a key carries the
            # same repo value — so unlike offset/commit_seq windows it is
            # sound on ANY snapshot, deltas pending or not: a file holding
            # any row of a wanted repo necessarily has repo_min <= r <=
            # repo_max and survives, so LWW resolution over the kept files
            # sees every version of every kept key.  Stats are looked up
            # under the file's own schema version's field-id-1 name
            # (rename-safe); files without stats are kept conservatively.
            wanted = sorted(set(repos))
            key1_by_ver = {
                ver: next(f["name"] for f in fields if f["id"] == 1)
                for ver, fields in m["schemas"].items()
            }

            def _repo_may_match(f: dict) -> bool:
                s = (f.get("stats") or {}).get(
                    key1_by_ver[str(f["schema_version"])]
                )
                return s is None or any(s[0] <= r <= s[1] for r in wanted)

            files = [f for f in files if _repo_may_match(f)]
        if key is not None:
            # exact-bucket pruning: the bucket is a PURE function of the
            # key, computed per live layout generation (migration-safe —
            # unlike scan(buckets=), which refuses mid-migration because a
            # bare bucket id is generation-ambiguous).  One 1-row Spark
            # job evaluates the engine's own xxhash64 bucket expression so
            # driver and executors can never disagree on the hash.
            from glad_tiles_pipeline_spark.functions.hashing import bucket_col

            layouts = m.get("layouts") or {"1": m["n_buckets"]}
            krow = (
                spark.range(1)
                .select(F.lit(key[0]).alias("r"), F.lit(key[1]).alias("p"))
                .select(
                    *[
                        bucket_col(int(nb), "r", "p").alias(f"g{gen}")
                        for gen, nb in layouts.items()
                    ]
                )
                .first()
            )
            want_bucket = {gen: krow[f"g{gen}"] for gen in layouts}
            files = [
                f
                for f in files
                if f["bucket"] == want_bucket.get(str(f.get("layout_gen", 1)))
            ]
            # kills are bucket-local too: a dv row can only reference a
            # data file of its own bucket, so the point read opens only
            # the key's bucket's kill lists
            dv_entries = [
                f
                for f in dv_entries
                if f["bucket"] == want_bucket.get(str(f.get("layout_gen", 1)))
            ]
            # path-half pruning for the point lookup: sound ONLY within
            # single-repo files (repo_lo == repo_hi — the layout clustered
            # compaction produces): there the file's path min/max bound the
            # wanted key's path; a multi-repo file's path range says
            # nothing about one repo's paths, so it is kept conservatively.
            by_ver = {
                ver: {f["id"]: f["name"] for f in fields}
                for ver, fields in m["schemas"].items()
            }

            def _path_may_match(f: dict) -> bool:
                s = f.get("stats") or {}
                names = by_ver[str(f["schema_version"])]
                k1 = s.get(names.get(1))
                k2 = s.get(names.get(2))
                if k1 is None or k2 is None or k1[0] != k1[1]:
                    return True
                return k2[0] <= key[1] <= k2[1]

            files = [f for f in files if _path_may_match(f)]
            # S27 bloom pruning: fresh delta/tomb files carry a per-file
            # key bloom (written by merge._post_write_stats); a negative
            # membership test is DEFINITE — the key has no row in the file — so
            # dropping the file commutes with LWW resolution exactly like
            # the repo-stats prune.  This is what makes lookup O(1) files
            # on an UNCLUSTERED layout (gate: tests/test_bloom_lookup.py);
            # files without a bloom (big/compacted) are kept and rely on
            # clustered path stats instead.
            from glad_tiles_pipeline_spark.functions.hashing import (
                bloom_may_contain,
                bloom_positions,
            )

            kpos = bloom_positions(key[0], key[1])
            files = [
                f
                for f in files
                if "bloom" not in f or bloom_may_contain(f["bloom"], kpos)
            ]
        ranges: dict[str, tuple[int, int]] = {}
        if offset_range is not None:
            ranges["_offset"] = offset_range
        if commit_seq_range is not None:
            ranges["_commit_seq"] = commit_seq_range
        # File-level stats pruning is sound when rows are independent:
        # always for raw include_system reads (the filter is row-local), and
        # for resolved reads only when no LWW resolution is pending over the
        # FULL snapshot (one row per key).  Delta-heavy snapshots — where
        # per-batch delta files make the stats sharpest — therefore prune on
        # the raw surface, which is exactly the O(window) audit/export read.
        any_delta = any(f.get("delta") for f in m["files"])
        if ranges and (include_system or not any_delta):
            files = [f for f in files if _stats_may_match(f, ranges)]
        # Resolved readers skip tombstone memos UNLESS mor deltas force an
        # LWW pass anyway — then the memos must join the arg-max so a
        # delta-appended late event cannot resurrect a dv-deleted key
        # (mixed mor / mor_dv ingest stays exact).  Raw readers (merge,
        # compact, audits) always see memos: raw ∪ memos + arg-max is the
        # complete LWW state, with or without kills.
        data_files = [f for f in files if f.get("kind") != "tomb"]
        tomb_files = [f for f in files if f.get("kind") == "tomb"]
        needs_resolve = any(f.get("delta") for f in data_files)
        if include_system or needs_resolve:
            read_files = data_files + tomb_files
        else:
            read_files = data_files
        if buckets is not None:
            dv_entries = [f for f in dv_entries if f["bucket"] in buckets]
        apply_kills = bool(dv_entries) and not include_system
        if not read_files:
            return spark.createDataFrame([], cur_schema)
        out = self._project_files(
            spark, m, read_files,
            with_positions=with_positions or apply_kills,
        )
        if apply_kills:
            # broadcast anti-join on (file, row): delete vectors are
            # output-of-deletes-sized; the data side never shuffles.
            # Killed rows are superseded by construction (a kill is only
            # recorded when a newer winner beat the row), so applying
            # kills before any remaining LWW pass cannot change winners.
            kills = spark.read.schema("path string, pos long").parquet(
                *[os.path.join(self.root, f["path"]) for f in dv_entries]
            ).select(F.col("path").alias("__kp"), F.col("pos").alias("__kpos"))
            out = out.join(
                F.broadcast(kills),
                (F.col("__fp") == F.col("__kp"))
                & (F.col("__pos") == F.col("__kpos")),
                "left_anti",
            )
            if not with_positions:
                out = out.drop("__fp", "__pos")
        if repos is not None:
            # key predicate: commutes with LWW resolution, filter early
            key1_cur = next(f["name"] for f in cur_fields if f["id"] == 1)
            out = out.filter(F.col(key1_cur).isin(sorted(set(repos))))
        if key is not None:
            key2_cur = next(f["name"] for f in cur_fields if f["id"] == 2)
            out = out.filter(F.col(key2_cur) == key[1])
        if ranges and include_system:
            for col, (lo, hi) in ranges.items():
                out = out.filter(F.col(col).between(lo, hi))
        if not include_system:
            # Merge-on-read resolution: buckets with uncompacted delta files
            # may hold several generations of a key; readers take the LWW
            # arg-max by (_commit_seq, _offset) first.  Compacted/CoW-only
            # snapshots skip the extra shuffle entirely (flag in manifest).
            # (Rebucketed files keep delta=True: a key rewritten from the old
            # layout may be superseded by a new-layout delta written mid-
            # migration, so readers must keep resolving until compact().)
            needs_resolve = any(f.get("delta") for f in files)
            if needs_resolve:
                from glad_tiles_pipeline_spark.operators.dedup import lww_dedup

                key_names = [f["name"] for f in cur_fields if f["id"] in (1, 2)]
                out = lww_dedup(
                    out, key=key_names, strategy="argmax",
                    order=["_commit_seq", "_offset"],
                )
            # range filters apply to the WINNER's ordering metadata, so
            # post-resolution — pre-resolution filtering would let an older
            # in-window version win over a newer out-of-window one
            for col, (lo, hi) in ranges.items():
                out = out.filter(F.col(col).between(lo, hi))
            out = out.filter(~F.col("_deleted")).drop(
                *[sf.name for sf in SYSTEM_FIELDS.fields]
            )
        return out

    def _rel_path_expr(self) -> F.Column:
        """Root-relative data-file path of each row, from the parquet
        reader's hidden ``_metadata`` column — the identity the
        delete-vector files record (relative, so the table stays
        relocatable like every other manifest path)."""
        import re as _re

        norm = F.regexp_replace(F.col("_metadata.file_path"), r"^file:/+", "/")
        return F.regexp_replace(
            norm, "^" + _re.escape(os.path.abspath(self.root)) + "/", ""
        )

    def _project_files(
        self,
        spark: SparkSession,
        m: dict,
        files: list[dict],
        with_positions: bool = False,
    ) -> DataFrame:
        """Union of ``files`` (non-empty, entries of manifest ``m``) projected
        onto ``m``'s current schema by FIELD ID — the schema-evolution
        contract: select by the writing version's name, cast to the current
        type, alias to the current name; fields added since → typed NULL.
        System columns pass through.  Shared by scan, incremental, and the
        rebucket step.

        ``with_positions`` appends ``__fp`` (root-relative file path) and
        ``__pos`` (row index within the file) from the parquet reader's
        ``_metadata`` column — the row identity positional deletes (S26)
        are recorded and applied against.

        Each version's files are read with that version's manifest schema,
        so planning the read launches no schema-inference job."""
        cur_fields = m["schemas"][str(m["schema_version"])]
        by_version: dict[str, list[str]] = {}
        for f in files:
            by_version.setdefault(str(f["schema_version"]), []).append(
                os.path.join(self.root, f["path"])
            )
        parts: list[DataFrame] = []
        for ver, paths in by_version.items():
            old_by_id = {f["id"]: f for f in m["schemas"][ver]}
            df = spark.read.schema(_row_schema(m["schemas"][ver])).parquet(*paths)
            proj = []
            for f in cur_fields:
                old = old_by_id.get(f["id"])
                if old is None:
                    proj.append(
                        F.lit(None).cast(_spark_type(f["type"])).alias(f["name"])
                    )
                else:
                    proj.append(
                        F.col(old["name"]).cast(_spark_type(f["type"])).alias(f["name"])
                    )
            proj += [F.col(sf.name) for sf in SYSTEM_FIELDS.fields]
            if with_positions:
                proj += [
                    self._rel_path_expr().alias("__fp"),
                    F.col("_metadata.row_index").alias("__pos"),
                ]
            parts.append(df.select(*proj))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- commit (S8/S10) -------------------------------------------------------

    def lookup(
        self,
        spark: SparkSession,
        repo: str,
        path: str,
        snapshot_id: int | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Point read: the current state of one (repo, path) key — the
        CDC engine's key-value read surface ("what does this file contain
        right now?").  Sound on every snapshot (key predicates commute
        with LWW resolution); IO = the file-stats pruned subset: repo
        min/max always applies, and inside single-repo files (which the
        key-clustered compaction layout makes the normal case) the path
        min/max applies too, so a clustered table opens ~one file per
        bucket the key hashes into — O(1) of the table.  Returns zero
        rows if the key is absent or its latest version is a delete."""
        return self.scan(
            spark, snapshot_id=snapshot_id, tag=tag, key=(repo, path)
        )

    def fast_count(
        self,
        spark: "SparkSession | None" = None,
        snapshot_id: int | None = None,
    ) -> int:
        """Exact live row count WITHOUT a cluster, when the snapshot is
        RESOLVED (Iceberg count-pushdown parity).  A resolved snapshot
        (no LWW delta files, no tomb/dv sidecars — CoW always, MoR/mor_dv
        after compaction) holds one arbitrated row per key, but winning
        DELETES persist as rows too (``_deleted = true`` memos: a future
        late event must keep losing to them), so per-file manifest rows
        over-count.  The answer = manifest rows minus remembered deletes,
        resolved per file from parquet metadata: the ``_deleted`` boolean
        column-chunk stats prove most files all-live (max = false) for
        free, and only delete-containing files read that one RLE boolean
        column (a few KB) — driver-side footer IO, zero executors, the
        admin/CLI shape.  An UNRESOLVED snapshot needs LWW arbitration,
        so the count falls back to the ordinary resolved scan — which
        requires ``spark``; passing None then raises rather than
        guessing."""
        m = self.manifest(snapshot_id)
        unresolved = any(
            f.get("delta") or f.get("kind") in ("tomb", "dv")
            for f in m["files"]
        )
        if unresolved:
            if spark is None:
                raise ValueError(
                    "snapshot has unresolved deltas — fast_count needs a "
                    "SparkSession to fall back to a resolved scan (or "
                    "compact first)"
                )
            return self.scan(spark, snapshot_id=snapshot_id).count()
        import pyarrow.parquet as pq

        total = 0
        for f in m["files"]:
            if f["rows"] == 0:
                continue
            pf = pq.ParquetFile(os.path.join(self.root, f["path"]))
            names = pf.schema_arrow.names
            if "_deleted" not in names:
                total += f["rows"]
                continue
            ci = names.index("_deleted")
            meta = pf.metadata
            maybe_deleted = False
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max or st.max:
                    maybe_deleted = True
                    break
            if not maybe_deleted:
                total += f["rows"]
                continue
            col = pf.read(columns=["_deleted"]).column("_deleted")
            import pyarrow.compute as pc

            n_del = pc.sum(col).as_py() or 0
            total += f["rows"] - int(n_del)
        return total

    def export_to(
        self, dest_root: str, snapshot_id: int | None = None
    ) -> "LakeTable":
        """Portable snapshot export (Iceberg snapshot-registration /
        CLONE parity) — the disaster-restore and table-migration story:
        copy ONE snapshot's exact state into a fresh self-contained
        table root that keeps tailing the same changelog from the right
        place.

        What carries over, and why it stays exact:

        * **Files verbatim** — every file the manifest references (row
          data, MoR deltas, tomb/dv sidecars) is copied byte-identical
          at its original relative path, so stats/blooms in the copied
          file entries still describe the copied bytes (``audit_table``
          on the clone passes), MoR snapshots restore unresolved (the
          clone's readers resolve exactly like the source's), and
          delete memos keep outranking late events downstream.
        * **Resume points verbatim** — the snapshot's ``offsets`` and
          the full per-source channel dict ride through ``commit(...,
          restore_source_offsets=)``, so ``ingest_changelog`` (any
          channel) resumes on the clone exactly where the source
          snapshot stopped: the export IS a checkpoint restore.
        * **Schema registry + bucket layout** — the whole field-id
          history and the layout-generation state (including an
          in-flight rebucket migration) carry over, so old-schema files
          project and a drained migration can continue on the clone.

        What does NOT carry over, stated honestly: history (the clone
        has one real snapshot — time travel below it answers with the
        clone's create state), tags/branches (pin source snapshots that
        don't exist here), and the batch-id index (like a branch's
        pre-fork window, replaying a pre-export batch id through a
        direct ``apply_batch`` call would re-apply it — semantically a
        no-op under LWW with delete memos present, and unreachable from
        the ingest driver, whose resume point the carried offsets
        guard).

        The single commit is fenced like any other (``export-v{sid}``),
        so a crash mid-copy leaves no published clone — remove the dest
        and re-run.  Data files are local-FS by design here (the same
        seam note as compact/vacuum); an object-store data plane would
        swap the copy loop, not the manifest logic.
        """
        import shutil

        m = self.manifest(snapshot_id)
        sid = m["snapshot_id"]
        if sid < self.vacuum_horizon():
            raise ValueError(
                f"snapshot v{sid} is below the vacuum horizon "
                f"{self.vacuum_horizon()}; its data files were expired"
            )
        dest = LakeTable.create(dest_root, n_buckets=int(m["n_buckets"]))
        for f in m["files"]:
            src = os.path.join(self.root, f["path"])
            dst = os.path.join(dest_root, f["path"])
            # data plane is local-FS by design (same seam note as
            # compact/vacuum) — not routed through the ManifestIO, whose
            # in-memory backend only covers metadata
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(src, dst)
        layout_update = {
            "layouts": m.get("layouts") or {"1": m["n_buckets"]},
            "write_gen": m.get("write_gen", 1),
            "migration": m.get("migration"),
        }
        dest.commit(
            batch_id=f"export-v{sid}",
            expected_parent=0,
            replaced_buckets=set(),
            new_files=[dict(f) for f in m["files"]],
            offsets=dict(m["offsets"]),
            lineage={},
            metrics={
                "exported_from": self.root,
                "source_snapshot": sid,
                "files_copied": len(m["files"]),
            },
            schema_version=m["schema_version"],
            schemas=m["schemas"],
            layout_update=layout_update,
            restore_source_offsets=m.get("source_offsets"),
        )
        return dest

    def new_data_dir(self) -> tuple[str, str]:
        """Unique directory for one commit attempt's data files.
        Returns (absolute, relative-to-root)."""
        rel = os.path.join("data", f"commit-{uuid.uuid4().hex[:12]}")
        absd = os.path.join(self.root, rel)
        self.io.makedirs(absd, exist_ok=False)
        return absd, rel

    def commit(
        self,
        *,
        batch_id: str,
        expected_parent: int,
        replaced_buckets: set | str,
        new_files: list[dict],
        offsets: dict,
        lineage: dict,
        metrics: dict,
        schema_version: int | None = None,
        schemas: dict | None = None,
        layout_update: dict | None = None,
        source: str | None = None,
        restore_source_offsets: dict | None = None,
    ) -> int:
        """Publish a new snapshot: carry forward parent files for untouched
        buckets, swap in ``new_files`` for ``replaced_buckets``.

        ``replaced_buckets`` is layout-generation-qualified: plain ints mean
        (parent's write generation, bucket) — exact whenever a single
        generation exists, which CoW/compact guarantee by refusing to run
        mid-migration; ``(gen, bucket)`` tuples address a generation
        explicitly (the rebucket step retires old-generation files this
        way); the string ``"all"`` drops every parent file (rollback).

        ``layout_update`` (rebucket only) replaces the three layout keys
        {layouts, write_gen, migration} atomically with the rest of the
        commit; otherwise they carry forward from the parent.

        Fencing: the new manifest is v{expected_parent+1}; if that file
        already exists the CAS failed → CommitConflict (unless the existing
        chain already contains our batch_id → idempotent no-op).

        Per-source offset channels (S29, multi-writer): ``source`` names
        the offset stream this commit consumed from; its channel in
        ``source_offsets`` advances MONOTONICALLY to ``max(prev,
        offsets.hi)`` while every other channel carries forward — so N
        writers tailing N changelogs into one table each keep their own
        resume point, interleaving freely under the same manifest CAS.
        ``source=None`` (compaction, rebucket, WAP publish) touches no
        channel.  ``restore_source_offsets`` replaces the whole dict
        (rollback restores the target snapshot's channels).  The legacy
        scalar ``offsets`` stays verbatim-per-commit either way.
        """
        already = self.batch_committed(batch_id)
        if already is not None:
            return already
        parent = self.manifest(expected_parent)
        parent_gen = int(parent.get("write_gen", 1))
        if replaced_buckets == "all":
            kept: list[dict] = []
        else:
            norm = {
                b if isinstance(b, tuple) else (parent_gen, b)
                for b in replaced_buckets
            }
            kept = [
                f
                for f in parent["files"]
                if (int(f.get("layout_gen", 1)), f["bucket"]) not in norm
            ]
        layouts = parent.get("layouts") or {"1": parent["n_buckets"]}
        write_gen = parent_gen
        migration = parent.get("migration")
        if layout_update is not None:
            layouts = {str(k): int(v) for k, v in layout_update["layouts"].items()}
            write_gen = int(layout_update["write_gen"])
            migration = layout_update.get("migration")
        if restore_source_offsets is not None:
            chans = dict(restore_source_offsets)
        else:
            chans = dict(parent.get("source_offsets") or {})
            if source is not None:
                prev_hi = (
                    int(chans[source]["hi"]) if source in chans
                    else int(parent["offsets"]["hi"]) if source == "default"
                    else -1
                )
                chans[source] = {"hi": max(prev_hi, int(offsets["hi"]))}
        manifest = {
            "snapshot_id": expected_parent + 1,
            "parent_snapshot_id": expected_parent,
            "batch_id": batch_id,
            "n_buckets": int(layouts[str(write_gen)]),
            "layouts": layouts,
            "write_gen": write_gen,
            "schema_version": schema_version or parent["schema_version"],
            "schemas": schemas or parent["schemas"],
            "files": kept + new_files,
            "offsets": offsets,
            "lineage": lineage,
            "metrics": metrics,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if chans:
            manifest["source_offsets"] = chans
        if migration is not None:
            manifest["migration"] = migration
        self._publish(manifest)
        # index eagerly (fast path); a crash before this line is repaired by
        # the next batch_committed suffix walk.  Advancing the high-water
        # mark is sound: the idempotence probe above indexed everything
        # through expected_parent, and winning the CAS publish means no
        # other snapshot appeared in between.
        self._write_batch_marker(batch_id, manifest["snapshot_id"])
        self._advance_indexed_through(manifest["snapshot_id"])
        return manifest["snapshot_id"]

    def _publish(self, manifest: dict) -> None:
        """Atomic create-if-absent (the commit CAS): exactly one of two
        racing committers with the same parent wins.  Local backend uses
        link(2); an S3 backend maps to a conditional PUT / catalog swap
        (see ManifestIO)."""
        self.io.makedirs(self._manifest_dir, exist_ok=True)
        won = self.io.put_if_absent(
            self._manifest_path(manifest["snapshot_id"]),
            json.dumps(manifest, indent=1),
        )
        if not won:
            raise CommitConflict(
                f"snapshot v{manifest['snapshot_id']} already published "
                f"(expected parent {manifest['parent_snapshot_id']})"
            )

    # -- table history / incremental reads ------------------------------------

    def snapshot_as_of(self, ts: "str | float") -> int:
        """Latest snapshot committed at or before ``ts`` (Iceberg
        `FOR TIMESTAMP AS OF` parity).  ``ts`` is an ISO-8601 UTC string
        (the ``committed_at`` format, e.g. ``2026-08-18T07:00:00Z``) or
        epoch seconds.  Chosen as the max snapshot id among qualifying
        commits — robust to wall-clock jitter between commits within the
        same second.  O(snapshots) driver-side manifest walk, like
        ``history()``; pair with ``scan(as_of=...)``.

        Timestamps are compared as PARSED epochs, never lexicographically
        — a valid-but-non-canonical ISO form ('...00.500Z', '...+00:00')
        would otherwise silently resolve to the wrong snapshot."""
        from datetime import datetime, timezone

        if isinstance(ts, (int, float)):
            want = float(ts)
        else:
            try:
                dt = datetime.fromisoformat(str(ts).replace("Z", "+00:00"))
            except ValueError:
                raise ValueError(f"unparseable as_of timestamp {ts!r}")
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            want = dt.timestamp()
        best = None
        for sid in range(0, self.current_snapshot_id() + 1):
            committed = datetime.strptime(
                self.manifest(sid)["committed_at"], "%Y-%m-%dT%H:%M:%SZ"
            ).replace(tzinfo=timezone.utc).timestamp()
            if committed <= want:
                best = sid
        if best is None:
            raise ValueError(
                f"no snapshot committed at or before {ts!r} "
                "(table created later)"
            )
        return best

    def history(self, spark: SparkSession) -> DataFrame:
        """Snapshot history as a DataFrame (Iceberg `table.history()` /
        Delta `DESCRIBE HISTORY` parity): one row per snapshot with commit
        metadata and headline metrics.  Driver-side manifest walk — O(number
        of snapshots), tiny JSON each, never touches data files.

        Admin-surface only: a 10^6-commit table would want the rolled-up
        manifest-list file Iceberg keeps (one read instead of 10^6) — the
        batch-id marker index already establishes that derive-and-repair
        pattern, and ``ManifestIO`` is the seam such an index would live
        behind.  Not needed at this table's commit cadence (one snapshot per
        ingest batch)."""
        rows = []
        for sid in range(0, self.current_snapshot_id() + 1):
            m = self.manifest(sid)
            rows.append(
                {
                    "snapshot_id": sid,
                    "parent_snapshot_id": m["parent_snapshot_id"],
                    "batch_id": m["batch_id"],
                    "committed_at": m["committed_at"],
                    "schema_version": m["schema_version"],
                    "offset_hi": m["offsets"]["hi"],
                    "n_files": len(m["files"]),
                    "merge_mode": (m.get("metrics") or {}).get("merge_mode"),
                    "events_read": (m.get("metrics") or {}).get("events_read"),
                    "winners": (m.get("metrics") or {}).get("winners"),
                }
            )
        schema = (
            "snapshot_id int, parent_snapshot_id int, batch_id string, "
            "committed_at string, schema_version int, offset_hi long, "
            "n_files int, merge_mode string, events_read long, winners long"
        )
        return spark.createDataFrame(rows, schema=schema)

    def report(self, since_snapshot: int = 0) -> dict:
        """Operational rollup of the per-batch lineage + metrics every
        commit records (the north rule's "checkpoint manifest with
        per-partition lineage, event offsets, and rows-applied metrics"
        — this is the read side of that promise): one dict summarizing
        what the table has ingested and what maintenance ran, without a
        SparkSession and without touching data files.

        Driver-side manifest walk like ``history()`` — O(snapshots in
        the window), tiny JSON each.  ``since_snapshot`` bounds the
        window (exclusive, so ``report(since_snapshot=prev_head)`` after
        a run reports exactly that run).

        Contents:

        * ``snapshots`` — count by kind, classified from the batch-id
          conventions (ingest ``b/s{lo}-{hi}``, ``compact-``,
          ``rebucket-``, ``rq…`` requeue, ``backfill-``, ``export-``,
          ``:evo`` schema evolution, ``__…__`` admin).
        * ``totals`` — events read/winners/dupes dropped/deletes/
          position kills/control events summed over ingest commits, and
          rows applied/deleted summed from per-bucket lineage.
        * ``events_per_sec`` — events read over ``apply_seconds``, the
          summed wall time (``metrics.apply_ms``) each ingest commit's
          ``apply_batch`` call recorded; None when no commit in the
          window recorded one.
        * ``skew`` — per-ingest-batch hottest-bucket share
          (max bucket_rows / batch events), reported as max and mean:
          ~1/n_buckets means the stats-planned partitioning spread the
          load; →1.0 means one hot key owned the batch.
        """
        def _kind(bid: str) -> str:
            if bid.startswith("__"):
                return "admin"
            if bid.startswith("compact-"):
                return "compact"
            if bid.startswith("rebucket-"):
                return "rebucket"
            if bid.startswith("rq"):
                return "requeue"
            if bid.startswith("backfill-"):
                return "backfill"
            if bid.startswith("export-"):
                return "export"
            if bid.endswith(":evo"):
                return "evolve"
            return "ingest"

        cur = self.current_snapshot_id()
        lo_sid = max(since_snapshot + 1, 0)
        kinds: dict[str, int] = {}
        totals = {
            "events_read": 0, "winners": 0, "dupes_dropped": 0,
            "deletes_requested": 0, "position_kills": 0,
            "control_events": 0, "rows_applied": 0, "rows_deleted": 0,
            "buckets_rewritten": 0,
        }
        timed_events, apply_ms = 0, 0.0
        hot_shares: list[float] = []
        for sid in range(lo_sid, cur + 1):
            m = self.manifest(sid)
            if self._is_dead(sid):
                kinds["rolled_back"] = kinds.get("rolled_back", 0) + 1
                continue
            kind = _kind(m["batch_id"])
            kinds[kind] = kinds.get(kind, 0) + 1
            if kind != "ingest":
                continue
            met = m.get("metrics") or {}
            for k in ("events_read", "winners", "dupes_dropped",
                      "deletes_requested", "position_kills",
                      "control_events", "buckets_rewritten"):
                totals[k] += int(met.get(k) or 0)
            if met.get("apply_ms") is not None:
                timed_events += int(met.get("events_read") or 0)
                apply_ms += float(met["apply_ms"])
            for lin in (m.get("lineage") or {}).values():
                totals["rows_applied"] += int(lin.get("rows_applied") or 0)
                totals["rows_deleted"] += int(lin.get("rows_deleted") or 0)
            rows = [int(v) for v in (met.get("bucket_rows") or {}).values()]
            if rows and sum(rows) > 0:
                hot_shares.append(max(rows) / sum(rows))

        throughput = (
            round(timed_events / (apply_ms / 1000), 1) if apply_ms > 0 else None
        )

        head = self.manifest(cur)
        return {
            "snapshot_range": [lo_sid, cur],
            "snapshots": kinds,
            "totals": totals,
            "apply_seconds": round(apply_ms / 1000, 3) if apply_ms else None,
            "events_per_sec": throughput,
            "skew": (
                {
                    "hottest_bucket_share_max": round(max(hot_shares), 4),
                    "hottest_bucket_share_mean": round(
                        sum(hot_shares) / len(hot_shares), 4
                    ),
                    "n_buckets": head["n_buckets"],
                }
                if hot_shares else None
            ),
            "head": {
                "snapshot_id": cur,
                "schema_version": head["schema_version"],
                "n_files": len(head["files"]),
                "offsets_hi": {
                    ch: o["hi"]
                    for ch, o in (head.get("source_offsets")
                                  or {"default": head["offsets"]}).items()
                },
            },
        }

    def incremental(
        self,
        spark: SparkSession,
        from_snapshot: int | None = None,
        to_snapshot: int | None = None,
        from_tag: str | None = None,
        to_tag: str | None = None,
    ) -> DataFrame:
        """CDC-OUT: the row-level changes committed in ``(from_snapshot,
        to_snapshot]`` — the engine's own change feed (Iceberg incremental
        scan / Delta CDF parity), letting a downstream pipeline tail THIS
        table the same way this engine tails its upstream log.

        Rows come from the data files ADDED in the window, LWW-resolved per
        key within the window by (_commit_seq, _offset) — i.e. one row per
        key reflecting the key's newest change in the window; deletes
        surface with ``_deleted = true``.  Reads only the window's files
        plus two manifests: cost is O(changes), never O(table).  (A CoW
        rewrite copies surviving rows into new files, so for exact
        semantics the window must not span a CoW/compaction commit; those
        commits rewrite — not change — data.  The mor ingest path, where a
        change feed matters, appends pure delta files.)

        ``from_tag``/``to_tag`` (S24 sugar): address the window by named
        refs — "every change since release-7" is the common audit/export
        ask; mutually exclusive with the corresponding snapshot id."""
        for sid_arg, tag_arg, nm in (
            (from_snapshot, from_tag, "from"),
            (to_snapshot, to_tag, "to"),
        ):
            if sid_arg is not None and tag_arg is not None:
                raise ValueError(f"pass {nm}_snapshot or {nm}_tag, not both")
        if (from_tag or to_tag) and self.branch_name != "main":
            raise ValueError("tags resolve on the main table handle only")
        tag_map = self.tags() if (from_tag or to_tag) else {}
        if from_tag is not None:
            if from_tag not in tag_map:
                raise ValueError(f"no such tag {from_tag!r}")
            from_snapshot = tag_map[from_tag]
        if to_tag is not None:
            if to_tag not in tag_map:
                raise ValueError(f"no such tag {to_tag!r}")
            to_snapshot = tag_map[to_tag]
        if from_snapshot is None:
            raise ValueError("from_snapshot or from_tag is required")
        cur = self.current_snapshot_id()
        if to_snapshot is None:
            to_snapshot = cur
        # Validate the window up front: a reversed or future range would
        # otherwise skip the rewrite guard (empty loop) or surface as an
        # opaque FileNotFoundError from manifest().
        if not (0 <= from_snapshot <= to_snapshot <= cur):
            raise ValueError(
                f"invalid incremental window ({from_snapshot}, {to_snapshot}]: "
                f"need 0 <= from <= to <= current snapshot {cur}"
            )
        if from_snapshot < self.vacuum_horizon():
            raise ValueError(
                f"from_snapshot {from_snapshot} is below the vacuum horizon"
            )
        # A compaction or CoW commit REWRITES data files: file-set diffing
        # would then surface every surviving row of the rewritten buckets as
        # a "change" (and lose the window's real per-commit deltas).  The
        # feed is exact only over append-style (mor / metadata) commits —
        # refuse loudly rather than answer wrong.
        for sid in range(from_snapshot + 1, to_snapshot + 1):
            mode = (self.manifest(sid).get("metrics") or {}).get("merge_mode")
            if mode in ("compact", "cow", "rollback", "rebucket"):
                raise ValueError(
                    f"incremental window ({from_snapshot}, {to_snapshot}] spans "
                    f"a rewrite commit (snapshot {sid}, merge_mode={mode}); "
                    "the change feed is exact only across merge-on-read "
                    "commits — read from a snapshot at or after the rewrite"
                )
        base = {f["path"] for f in self.manifest(from_snapshot)["files"]}
        target = self.manifest(to_snapshot)
        # dv kill lists are metadata, not row changes; tombstone memos ARE
        # the window's delete changes (same role as mor tombstone deltas)
        added = [
            f
            for f in target["files"]
            if f["path"] not in base and f.get("kind") != "dv"
        ]
        cur_fields = target["schemas"][str(target["schema_version"])]
        key_names = [f["name"] for f in cur_fields if f["id"] in (1, 2)]
        out_schema = _row_schema(cur_fields)
        if not added:
            return spark.createDataFrame([], out_schema)
        out = self._project_files(spark, target, added)
        from glad_tiles_pipeline_spark.operators.dedup import lww_dedup

        return lww_dedup(
            out, key=key_names, strategy="argmax", order=["_commit_seq", "_offset"]
        )

    def files(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """Data-file inventory of a snapshot as a DataFrame (Iceberg
        ``.files`` metadata-table parity): path, bucket, schema version,
        delta flag, plus on-disk size.  Driver-side manifest read — one
        tiny JSON; sizes come through the IO seam (HEAD-equivalent)."""
        m = self.manifest(snapshot_id)
        rows = []
        for f in m["files"]:
            full = os.path.join(self.root, f["path"])
            stats = f.get("stats") or {}
            off = stats.get("_offset") or [None, None]
            seq = stats.get("_commit_seq") or [None, None]
            names = {
                sf["id"]: sf["name"]
                for sf in m["schemas"][str(f["schema_version"])]
            }
            rep = stats.get(names.get(1)) or [None, None]
            pth = stats.get(names.get(2)) or [None, None]
            rows.append(
                {
                    "path": f["path"],
                    "bucket": f["bucket"],
                    "layout_gen": int(f.get("layout_gen", 1)),
                    "schema_version": f["schema_version"],
                    "is_delta": bool(f.get("delta")),
                    "size_bytes": (
                        self.io.size(full) if self.io.exists(full) else None
                    ),
                    "offset_lo": off[0],
                    "offset_hi": off[1],
                    "commit_seq_lo": seq[0],
                    "commit_seq_hi": seq[1],
                    "repo_lo": rep[0],
                    "repo_hi": rep[1],
                    "path_lo": pth[0],
                    "path_hi": pth[1],
                }
            )
        schema = (
            "path string, bucket int, layout_gen int, schema_version int, "
            "is_delta boolean, size_bytes long, offset_lo long, "
            "offset_hi long, commit_seq_lo long, commit_seq_hi long, "
            "repo_lo string, repo_hi string, path_lo string, path_hi string"
        )
        return spark.createDataFrame(rows, schema=schema)

    def rollback(self, snapshot_id: int, batch_id: str | None = None) -> int:
        """Roll the table back to ``snapshot_id`` — the bad-batch recovery
        path.  Metadata-only and non-destructive (Iceberg
        ``rollback_to_snapshot`` semantics): publishes a NEW snapshot whose
        file set / schema / offsets are the target's, so history is
        preserved and concurrent readers are never broken.

        Idempotence interplay (the part a naive rollback gets wrong): the
        rolled-back commits' batch ids must stop answering "already
        committed" — the planner's content-addressed ``b{lo}-{hi}`` ids
        would otherwise SKIP those batches on re-ingest (silent data loss).
        The dead snapshot range is recorded in ``manifests/rollbacks.json``
        BEFORE the rollback manifest publishes, and ``batch_committed``
        consults it on both the marker fast path and the suffix walk.
        Ordering makes every crash window safe: a dead range recorded for a
        rollback that then failed to publish merely causes those batches to
        be RE-APPLIED, which the LWW merge makes a semantic no-op — whereas
        the reverse order could skip unapplied batches.  Marker files of
        dead commits are deleted last, as pure garbage collection.

        Single-admin operation (like ``vacuum``): concurrent rollbacks are
        not CAS-protected against each other, concurrent ingest is (the
        manifest publish is still the same CAS)."""
        cur = self.current_snapshot_id()
        if not 0 <= snapshot_id <= cur:
            raise ValueError(f"cannot roll back to {snapshot_id}: current is {cur}")
        if snapshot_id < self.vacuum_horizon():
            raise ValueError(
                f"cannot roll back below the vacuum horizon "
                f"{self.vacuum_horizon()}: data files were expired"
            )
        target = self.manifest(snapshot_id)
        dead_bids = [
            self.manifest(s)["batch_id"] for s in range(snapshot_id + 1, cur + 1)
        ]
        # 1) record the dead range FIRST (see ordering argument above)
        prev_ranges = self._dead_ranges()
        rb_path = os.path.join(self._manifest_dir, "rollbacks.json")
        self.io.put_atomic(
            rb_path,
            json.dumps({"ranges": prev_ranges
                        + [{"dead_from": snapshot_id + 1, "dead_through": cur}]}),
        )
        # 2) publish the rollback snapshot (normal CAS commit).  On a lost
        # race the rollback did NOT happen — un-record the dead range so
        # the still-live snapshots don't read as rolled back (a crash in
        # this window leaves the range recorded, which only costs a
        # harmless LWW re-apply of those batches; see ordering note).
        try:
            new_id = self.commit(
                batch_id=batch_id or f"__rollback_to_{snapshot_id}_from_{cur}__",
                expected_parent=cur,
                replaced_buckets="all",
                new_files=list(target["files"]),
                offsets=dict(target["offsets"]),
                # channels rewind WITH the table: a carried-forward (dead
                # head's) channel would make every source's planner skip
                # re-ingesting its rolled-back windows
                restore_source_offsets=dict(
                    target.get("source_offsets") or {}
                ),
                lineage={"rollback_of": snapshot_id},
                metrics={"merge_mode": "rollback", "rolled_back_from": cur},
                schema_version=target["schema_version"],
                schemas=target["schemas"],
                layout_update={
                    "layouts": target.get("layouts")
                    or {"1": target["n_buckets"]},
                    "write_gen": target.get("write_gen", 1),
                    "migration": target.get("migration"),
                },
            )
        except CommitConflict:
            self.io.put_atomic(rb_path, json.dumps({"ranges": prev_ranges}))
            raise
        # 3) GC the dead markers (correctness no longer depends on this)
        for bid in dead_bids:
            marker = self._batch_marker_path(bid)
            if self.io.exists(marker):
                self.io.delete(marker)
        return new_id

    def _dead_ranges(self) -> list[dict]:
        p = os.path.join(self._manifest_dir, "rollbacks.json")
        if not self.io.exists(p):
            return []
        return json.loads(self.io.read_text(p))["ranges"]

    def _is_dead(self, sid: int, ranges: list[dict] | None = None) -> bool:
        """True if ``sid`` was rolled back (its batch no longer applied)."""
        if ranges is None:
            ranges = self._dead_ranges()
        return any(r["dead_from"] <= sid <= r["dead_through"] for r in ranges)

    # -- retention / GC --------------------------------------------------------

    def vacuum(
        self, keep_last: int = 10, orphan_grace_seconds: float = 3600.0
    ) -> dict:
        """Expire old snapshots' data files + remove orphans.

        Keeps the data files referenced by the newest ``keep_last``
        snapshots; any data file referenced only by older snapshots — or by
        no manifest at all (orphans from crashed commit attempts) — is
        deleted.  Manifest JSONs are retained forever: they are tiny and
        ``batch_committed`` depends on the full batch-id history for
        idempotent replay.  Time travel below the resulting horizon raises
        a clear error instead of a missing-file failure.

        ``orphan_grace_seconds``: an unreferenced file younger than this is
        NOT deleted — it may belong to a commit attempt that has written
        data but not yet published its manifest (the commit protocol writes
        data first).  Mirrors Iceberg's ``remove_orphan_files`` olderThan.
        """
        if self.branch_name != "main":
            raise ValueError("vacuum from the main table handle only")
        cur = self.current_snapshot_id()
        # monotone: a later vacuum with a laxer keep_last must never move
        # the horizon backwards — files below the old horizon are already
        # gone, and re-exposing those snapshots would trade the clear
        # time-travel error for a missing-file crash
        horizon = max(0, cur - keep_last + 1, self.vacuum_horizon())
        # Publish the horizon BEFORE reading tags or deleting anything:
        # create_tag re-checks the horizon after its CAS write, so this
        # ordering gives a happens-before fence — either the tagger sees
        # our raised horizon and aborts, or we see its tag file below and
        # retain the pinned snapshot's data.  A crash after this publish
        # leaves the horizon raised with files still present, which is
        # safe (the horizon only promises "older than this MAY be gone").
        self.io.put_atomic(
            os.path.join(self.root, "vacuum.json"),
            json.dumps({"vacuum_horizon": horizon, "vacuumed_at": time.time(),
                        "phase": "begin"}),
        )
        retained: set[str] = set()
        for sid in range(horizon, cur + 1):
            retained |= {f["path"] for f in self.manifest(sid)["files"]}
        # tags (S24) pin their snapshot's files forever (until drop_tag):
        # a release ref must stay reproducible after ordinary history ages
        for sid in set(self.tags().values()):
            retained |= {f["path"] for f in self.manifest(sid)["files"]}
        # live staging branches (S23) pin every file their staged snapshots
        # reference — dropped branches release them back to the orphan path
        for name in self.list_branches():
            br = self.branch(name)
            fork = br._branch_meta()["fork_snapshot_id"]
            for sid in range(fork, br.current_snapshot_id() + 1):
                retained |= {f["path"] for f in br.manifest(sid)["files"]}
        superseded: set[str] = set()
        for sid in range(0, horizon):
            superseded |= {f["path"] for f in self.manifest(sid)["files"]}
        superseded -= retained

        removed_files = 0
        removed_bytes = 0
        now = time.time()
        data_root = os.path.join(self.root, "data")
        touched_dirs: list[str] = []
        for full, size, mtime in self.io.walk_data_files(data_root):
            rel = os.path.relpath(full, self.root)
            if rel in retained:
                continue
            if not full.endswith(".parquet"):
                continue
            # a file referenced by an expired manifest is provably not
            # part of an in-flight commit — no grace needed; the grace
            # window protects only TRUE orphans (never referenced), which
            # may belong to a commit that has not yet published
            if rel not in superseded and (now - mtime < orphan_grace_seconds):
                continue
            removed_bytes += size
            self.io.delete(full)
            removed_files += 1
            d = os.path.dirname(full)
            if d != data_root and (not touched_dirs or touched_dirs[-1] != d):
                touched_dirs.append(d)
        for d in touched_dirs:  # prune now-empty commit dirs (no-op on S3)
            self.io.rmdir_if_empty(d)
            parent = os.path.dirname(d)
            if parent != data_root:  # never remove <root>/data itself
                self.io.rmdir_if_empty(parent)

        marker = {"vacuum_horizon": horizon, "vacuumed_at": now,
                  "removed_files": removed_files, "removed_bytes": removed_bytes}
        self.io.put_atomic(os.path.join(self.root, "vacuum.json"),
                           json.dumps(marker))
        return marker

    def vacuum_horizon(self) -> int:
        """Oldest snapshot id whose data files are guaranteed present."""
        p = os.path.join(self.root, "vacuum.json")
        if not self.io.exists(p):
            return 0
        return int(json.loads(self.io.read_text(p))["vacuum_horizon"])

    # -- schema evolution (§1.3) ----------------------------------------------

    def evolve(self, ops: list[dict], batch_id: str) -> int:
        """Apply schema ops (add / rename / widen / drop column) as a
        metadata-only snapshot.  Field ids are stable; data files untouched.

        Ops (matching the change-stream control payloads, FIXTURES.md §2.1):
          {"op": "add_column",    "name": str, "type": str}
          {"op": "rename_column", "from": str, "to": str}
          {"op": "widen_type",    "name": str, "type": str}
          {"op": "drop_column",   "name": str}

        ``drop_column`` removes the field from the CURRENT schema only: old
        files keep the bytes, readers of the new version project the field
        away (the field-id mapping in ``_project_files`` selects only
        current fields), and old snapshots keep serving it — time travel is
        unaffected.  A later ``add_column`` under the same NAME gets a
        FRESH field id (ids are allocated above the max across ALL schema
        versions, never just the current one), so the re-added column reads
        as NULL from pre-drop files instead of resurrecting the dropped
        column's bytes — Iceberg's last-column-id rule.  Key fields
        (ids 1/2 — the upsert identity) cannot be dropped."""
        already = self.batch_committed(batch_id)
        if already is not None:
            return already
        parent_id = self.current_snapshot_id()
        parent = self.manifest(parent_id)
        fields = [dict(f) for f in parent["schemas"][str(parent["schema_version"])]]
        by_name = {f["name"]: f for f in fields}
        max_id = max(
            (f["id"] for ver in parent["schemas"].values() for f in ver),
            default=0,
        )
        for op in ops:
            kind = op["op"]
            if kind == "add_column":
                if op["name"] in by_name:
                    raise ValueError(f"column exists: {op['name']}")
                max_id += 1
                nf = {"id": max_id, "name": op["name"], "type": op["type"],
                      "source": op.get("source")}
                fields.append(nf)
                by_name[nf["name"]] = nf
            elif kind == "rename_column":
                f = by_name.pop(op["from"])
                f["name"] = op["to"]
                by_name[op["to"]] = f
            elif kind == "drop_column":
                f = by_name.get(op["name"])
                if f is None:
                    raise ValueError(f"no such column: {op['name']}")
                if f["id"] in (1, 2):
                    raise ValueError(
                        f"cannot drop key column {op['name']!r} (field id "
                        f"{f['id']} is the upsert identity)"
                    )
                del by_name[op["name"]]
                fields = [x for x in fields if x["id"] != f["id"]]
            elif kind == "widen_type":
                f = by_name[op["name"]]
                if (f["type"], op["type"]) not in ALLOWED_WIDEN:
                    raise ValueError(
                        f"illegal widen {f['type']} -> {op['type']} on {op['name']}"
                    )
                f["type"] = op["type"]
            else:
                raise ValueError(f"unknown schema op: {kind}")
        new_version = max(int(v) for v in parent["schemas"]) + 1
        schemas = dict(parent["schemas"])
        schemas[str(new_version)] = fields
        return self.commit(
            batch_id=batch_id,
            expected_parent=parent_id,
            replaced_buckets=set(),
            new_files=[],
            offsets=parent["offsets"],
            lineage={},
            metrics={"schema_ops": len(ops)},
            schema_version=new_version,
            schemas=schemas,
        )
