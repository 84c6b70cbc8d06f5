"""Table metadata model + atomic commit protocol.

One JSON document per table version (``metadata/v<N>.json``) holding
the table state: schema DDL, partition specs (append-only list —
partition evolution keeps old specs addressable by id, mirroring
Iceberg's spec-id per manifest), properties, and the snapshot log.

**Manifest sharding (O(changed-files) commits).** A snapshot's file
list is NOT inlined in ``v<N>.json``: each snapshot references a list
of immutable manifest sidecars (``metadata/mf-<hex>.json``, each
holding up to ``MANIFEST_TARGET_ENTRIES`` entries), exactly why real
Iceberg writes per-snapshot manifest files plus a manifest list
(``/root/reference/pyspark-iceberg/limitations.md:82-105`` shows the
manifest structure; ``interoperability.md:76-83`` the metadata/
directory). A commit therefore writes O(changed files): the child
snapshot REUSES every parent manifest whose entries all survive and
writes one new manifest for the delta, so appending one file to a
10\N{SUPERSCRIPT FIVE}-file table writes a constant-size ``v<N>.json``
plus one tiny manifest — never the full file list. Manifest entries
materialize lazily (``TableMeta.files``/``delete_entries``) and are
cached per TableMeta instance; metadata views that only need counts
read the manifest descriptors (``file_counts``) without loading any
entries.

Commits are **optimistically concurrent** (Iceberg semantics — the
reference's whole interop story is concurrent engines on one table,
``/root/reference/pyspark-iceberg/interoperability.md:64-90``): the
commit point is an atomic, exclusive claim of ``v<N+1>.json`` — the
fully-written document is ``os.link``ed to its version path, which
fails if another writer claimed that version first, raising
``CommitConflict`` for the caller to refresh-and-rebase. This mirrors
Iceberg's HadoopTables file-based commit protocol; in a production
deployment the same CAS lands on the catalog (REST/Hive lock).

``version-hint.text`` is a read accelerator, not the commit point:
``read_current`` starts at the hint and probes forward, so a writer
that crashed between claiming a version and repointing the hint never
hides a committed version (and a racy hint that momentarily points
backwards self-heals on the next read).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from typing import Any

from iceberg_workshop_spark.icetbl.transforms import stamp_bucket_flavor

METADATA_DIR = "metadata"
DATA_DIR = "data"
HINT_FILE = "version-hint.text"
MANIFEST_PREFIX = "mf-"
MANIFEST_LIST_PREFIX = "ml-"
# Max entries per newly-written manifest: bounds single-manifest size
# (Iceberg targets ~8 MB manifests for the same reason) so the initial
# load of a huge table shards into parallel-loadable chunks.
MANIFEST_TARGET_ENTRIES = 8192

# Metadata retention property names — the two knobs the reference sets
# at /root/reference/README.md:314-317.
PROP_PREV_VERSIONS_MAX = "write.metadata.previous-versions-max"
PROP_DELETE_AFTER_COMMIT = "write.metadata.delete-after-commit.enabled"


def new_snapshot_id() -> int:
    return uuid.uuid4().int >> 75  # 53-bit id (JSON/JS-safe)


def now_ms() -> int:
    return int(time.time() * 1000)


class TableMeta:
    """In-memory form of one vN.json document."""

    def __init__(self, doc: dict[str, Any], version: int, location: str) -> None:
        self.doc = doc
        self.version = version
        self.location = location
        # manifest-path -> loaded entries; manifests are immutable, so
        # one load per TableMeta serves every snapshot referencing it
        self._mf_cache: dict[str, list[dict[str, Any]]] = {}
        # manifest-path -> (id(entries list), frozenset of id()s of its
        # cached entry objects): the delta-commit path locates removed
        # entries by identity in O(|manifests|) set probes instead of
        # walking every live entry per commit. The first element PINS
        # the idset to the exact list object in _mf_cache it indexes —
        # if the cache entry is ever evicted/reloaded, mf_idset()
        # detects the identity change and rebuilds, so CPython id reuse
        # can never produce false identity hits against a stale set.
        # Handed across commits together with _mf_cache.
        self._mf_idset: dict[str, tuple[int, frozenset[int]]] = {}

    # -- accessors ---------------------------------------------------
    @property
    def schema_ddl(self) -> str:
        return self.doc["schema"]

    @schema_ddl.setter
    def schema_ddl(self, ddl: str) -> None:
        self.doc["schema"] = ddl

    @property
    def specs(self) -> list[list[dict[str, str]]]:
        return self.doc["partition_specs"]

    @property
    def current_spec_id(self) -> int:
        return self.doc["current_spec_id"]

    @property
    def properties(self) -> dict[str, str]:
        return self.doc.setdefault("properties", {})

    @property
    def snapshots(self) -> list[dict[str, Any]]:
        return self.doc.setdefault("snapshots", [])

    @property
    def current_snapshot_id(self) -> int | None:
        return self.doc.get("current_snapshot_id")

    @property
    def refs(self) -> dict[str, dict[str, Any]]:
        """Named refs (Iceberg's refs map): tag = immutable bookmark,
        branch = independently movable head. ``main`` is implicit
        (current_snapshot_id)."""
        return self.doc.setdefault("refs", {})

    def snapshot(self, snapshot_id: int) -> dict[str, Any]:
        for s in self.snapshots:
            if s["snapshot_id"] == snapshot_id:
                return s
        raise KeyError(f"snapshot {snapshot_id} not found")

    # -- manifest materialization -------------------------------------
    def _load_mf(self, rel_path: str) -> list[dict[str, Any]]:
        ents = self._mf_cache.get(rel_path)
        if ents is None:
            try:
                with open(os.path.join(self.location, rel_path)) as f:
                    ents = json.load(f)["entries"]
            except FileNotFoundError:
                # expire_snapshots GCs manifests exclusive to dropped
                # snapshots, but metadata retention may keep older
                # v<N>.json docs that still reference them: a pinned
                # read of such a doc fails HERE (metadata
                # materialization) rather than at data-read time.
                # Surface that as the expire event it is, not a bare
                # missing file. Subclasses FileNotFoundError so
                # best-effort callers (manifest reuse, GC sweeps) keep
                # their existing suppress/except behavior.
                raise SnapshotExpired(
                    f"manifest {rel_path} under {self.location} was "
                    "garbage-collected by expire_snapshots; this "
                    "pinned metadata version references an expired "
                    "snapshot and can no longer be materialized"
                ) from None
            self._mf_cache[rel_path] = ents
        return ents

    def manifests_of(
        self, snap: dict[str, Any], mkey: str = "manifests"
    ) -> list[dict[str, Any]]:
        """The snapshot's manifest DESCRIPTORS (``mkey`` is
        ``manifests`` or ``delete_manifests``), resolving its
        manifest-list sidecar on first access. Iceberg's exact
        metadata topology (v<N>.json → manifest list → manifests,
        ``/root/reference/limitations.md:82-105`` describes the same
        three-level layout): the version document stores ONE
        ``manifest_list`` path per snapshot, so v<N>.json stays
        O(retained snapshots) no matter how many manifests the table
        accumulates, and a commit's descriptor churn is one list file
        for the new snapshot — never a rewrite of every parent's
        descriptor rows. Resolution caches both descriptor lists into
        the snap dict (mirroring ``files``'s entry caching); ``commit``
        strips them from the serialized doc."""
        if mkey not in snap:
            lists = self._load_ml(snap["manifest_list"])
            snap.setdefault("manifests", lists.get("manifests", []))
            snap.setdefault("delete_manifests", lists.get("delete_manifests", []))
        return snap[mkey]

    def _load_ml(self, rel_path: str) -> dict[str, Any]:
        """Load a manifest-list sidecar (overridden by the REST-client
        TableMeta, which fetches it through the catalog instead of the
        filesystem)."""
        try:
            with open(os.path.join(self.location, rel_path)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise SnapshotExpired(
                f"manifest list {rel_path} under {self.location} was "
                "garbage-collected by expire_snapshots; this pinned "
                "metadata version references an expired snapshot and "
                "can no longer be materialized"
            ) from None

    def mf_idset(self, rel_path: str) -> frozenset[int]:
        """id()s of the manifest's cached entry objects (lazy, cached).
        The cached set is validated against the IDENTITY of the live
        ``_mf_cache`` list each call — a cache reset or reload between
        calls triggers a rebuild instead of a silent stale-id lookup."""
        ents = self._load_mf(rel_path)
        keyed = self._mf_idset.get(rel_path)
        if keyed is None or keyed[0] != id(ents):
            keyed = (id(ents), frozenset(map(id, ents)))
            self._mf_idset[rel_path] = keyed
        return keyed[1]

    def files(self, snap: dict[str, Any]) -> list[dict[str, Any]]:
        """The snapshot's data-file entries, materializing its
        manifests on first access (cached in the snap dict; ``commit``
        strips the materialized keys from the serialized doc, so the
        cache never re-inlines entries into v<N>.json). Every reader
        goes through here — ``snap["files"]`` directly would KeyError
        on a lazily-loaded snapshot."""
        if "files" not in snap:
            snap["files"] = [
                e
                for m in self.manifests_of(snap)
                for e in self._load_mf(m["path"])
            ]
        return snap["files"]

    def delete_entries(self, snap: dict[str, Any]) -> list[dict[str, Any]]:
        """The snapshot's merge-on-read delete-file entries (equality
        and positional), manifest-lazy like ``files``."""
        if "delete_files" not in snap:
            snap["delete_files"] = [
                e
                for m in self.manifests_of(snap, "delete_manifests")
                for e in self._load_mf(m["path"])
            ]
        return snap["delete_files"]

    def file_counts(self, snap: dict[str, Any]) -> tuple[int, int]:
        """(n_files, n_records) without loading manifest entries —
        the descriptors carry both counts, so metadata views stay
        O(manifests), not O(files)."""
        if "files" in snap:
            fl = snap["files"]
            return len(fl), sum(f.get("record_count") or 0 for f in fl)
        ms = self.manifests_of(snap)
        return (
            sum(
                m["n"] if "n" in m else len(self._load_mf(m["path"]))
                for m in ms
            ),
            # a foreign/hand-written descriptor missing 'records'
            # falls back to summing the loaded entries — reporting 0
            # records for a snapshot that has data would silently
            # corrupt the metadata views
            sum(
                m["records"]
                if "records" in m
                else sum(
                    e.get("record_count") or 0
                    for e in self._load_mf(m["path"])
                )
                for m in ms
            ),
        )

    def current_files(self) -> list[dict[str, Any]]:
        sid = self.current_snapshot_id
        return [] if sid is None else self.files(self.snapshot(sid))

    def current_deletes(self) -> list[dict[str, Any]]:
        sid = self.current_snapshot_id
        return [] if sid is None else self.delete_entries(self.snapshot(sid))

    # -- construction ------------------------------------------------
    @staticmethod
    def empty(location: str, schema_ddl: str, spec: list[dict[str, str]]) -> "TableMeta":
        # bucket-specced tables record their bucket hash (murmur3,
        # bucketing.py) as a property; ordinary tables carry none
        properties: dict[str, str] = {}
        stamp_bucket_flavor(properties, [spec])
        return TableMeta(
            {
                "format_version": 1,
                "table_uuid": str(uuid.uuid4()),
                "schema": schema_ddl,
                "partition_specs": [spec],
                "current_spec_id": 0,
                "properties": properties,
                "snapshots": [],
                "current_snapshot_id": None,
            },
            version=0,
            location=location,
        )


def metadata_path(location: str, version: int) -> str:
    return os.path.join(location, METADATA_DIR, f"v{version}.json")


class SnapshotExpired(FileNotFoundError):
    """A retained metadata version references a manifest that
    ``expire_snapshots`` garbage-collected: the pinned view's snapshot
    is expired. Raised at metadata-materialization time
    (``TableMeta.files``/``delete_entries``) — same semantics as
    Iceberg's data-file cleanup, surfaced earlier and by name."""


class CommitConflict(RuntimeError):
    """Another writer claimed the next metadata version first.

    The caller must refresh (``read_current``) and re-apply its change
    against the new base — appends rebase automatically; copy-on-write
    operations whose planned file set is stale must re-plan."""


def _max_version_on_disk(location: str) -> int | None:
    """Largest v<N>.json in the metadata dir, or None if none exist."""
    mdir = os.path.join(location, METADATA_DIR)
    best = None
    try:
        names = os.listdir(mdir)
    except FileNotFoundError:
        return None
    for name in names:
        if name.startswith("v") and name.endswith(".json"):
            try:
                v = int(name[1:-5])
            except ValueError:
                continue
            best = v if best is None or v > best else best
    return best


def read_current(location: str) -> TableMeta:
    hint = os.path.join(location, HINT_FILE)
    version = None
    try:
        with open(hint) as f:
            version = int(f.read().strip())
    except (FileNotFoundError, ValueError):
        pass  # crash between claim and first hint write — recover below
    if version is None or not os.path.exists(metadata_path(location, version)):
        # No hint (or it points at a GC'd version): the contiguous
        # probe below can't start, so scan the directory — metadata GC
        # may have removed low versions, leaving a non-contiguous set.
        version = _max_version_on_disk(location)
        if version is None:
            raise FileNotFoundError(
                f"no metadata versions found at {location}"
            )
    # The hint lags (or even trails a racing writer): any existing
    # v<N>.json is a complete, committed document (link-claimed), so
    # probing forward always lands on the true latest version.
    while os.path.exists(metadata_path(location, version + 1)):
        version += 1
    with open(metadata_path(location, version)) as f:
        return TableMeta(json.load(f), version, location)


def read_version(location: str, version: int) -> TableMeta:
    """Read the table pinned at a specific metadata version (A34).

    The Iceberg entry point is reading a table by FULL metadata-file
    path (``spark.read.format("iceberg").load(".../<N>.metadata.json")``,
    /root/reference/pyspark-iceberg/interoperability.md:103) — how
    engines debug/repair a table or bypass a broken hint. The view is
    frozen: current snapshot, schema, specs all come from that file."""
    path = metadata_path(location, version)
    with open(path) as f:
        return TableMeta(json.load(f), version, location)


def read_metadata_file(path: str) -> TableMeta:
    """``read_version`` addressed by the metadata file itself —
    accepts ``<table>/metadata/v<N>.json`` (the native analog of
    Iceberg's ``<hash>.metadata.json`` full-path read)."""
    name = os.path.basename(path)
    if not (name.startswith("v") and name.endswith(".json")):
        raise ValueError(f"not a metadata file path: {path}")
    version = int(name[1:-5])
    location = os.path.dirname(os.path.dirname(os.path.abspath(path)))
    return read_version(location, version)


def _write_manifest_shards(
    meta: TableMeta, entries: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    """Write ``entries`` as one or more immutable manifest sidecars
    and return their descriptors. Descriptor schema (pinned here, the
    only writer): ``path`` (relative to the table location), ``n``
    (entry count), ``records`` (sum of entry record_count — 0 for
    delete manifests, whose entries carry no record_count)."""
    out: list[dict[str, Any]] = []
    mdir = os.path.join(meta.location, METADATA_DIR)
    os.makedirs(mdir, exist_ok=True)
    for i in range(0, len(entries), MANIFEST_TARGET_ENTRIES):
        chunk = entries[i : i + MANIFEST_TARGET_ENTRIES]
        rel = os.path.join(
            METADATA_DIR, f"{MANIFEST_PREFIX}{uuid.uuid4().hex[:16]}.json"
        )
        path = os.path.join(meta.location, rel)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump({"entries": chunk}, f, separators=(",", ":"), default=str)
        os.replace(tmp, path)  # manifests are complete before the CAS
        out.append(
            {
                "path": rel,
                "n": len(chunk),
                "records": sum(e.get("record_count") or 0 for e in chunk),
            }
        )
        meta._mf_cache[rel] = chunk
        meta._mf_idset[rel] = (id(chunk), frozenset(map(id, chunk)))
    return out


def _spill_manifest_lists(meta: TableMeta) -> None:
    """Write one manifest-list sidecar per snapshot that lacks one
    (new snapshots; rewrite_manifests drops the list to force a
    re-spill). With the list spilled, the version
    document stores ONE path per snapshot — O(retained snapshots)
    bytes regardless of manifest count. Losing-CAS attempts orphan
    their list files like their manifests (tiny, swept with them)."""
    mdir = os.path.join(meta.location, METADATA_DIR)
    for s in meta.doc.get("snapshots", []):
        if "manifest_list" in s:
            continue
        lists = {
            "manifests": meta.manifests_of(s),
            "delete_manifests": meta.manifests_of(s, "delete_manifests"),
        }
        os.makedirs(mdir, exist_ok=True)
        rel = os.path.join(
            METADATA_DIR, f"{MANIFEST_LIST_PREFIX}{uuid.uuid4().hex[:16]}.json"
        )
        path = os.path.join(meta.location, rel)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            json.dump(lists, f, separators=(",", ":"), default=str)
        os.replace(tmp, path)  # complete before the CAS
        s["manifest_list"] = rel


def _serializable_doc(meta: TableMeta) -> dict[str, Any]:
    """The doc with materialized entry lists AND in-memory descriptor
    caches stripped: a snapshot persists as its manifest-list path
    (plus O(1) summary fields), so v<N>.json stays O(retained
    snapshots) regardless of live file or manifest count."""
    doc = dict(meta.doc)
    doc["snapshots"] = [
        {
            k: v
            for k, v in s.items()
            if k not in ("files", "delete_files")
            and not (
                "manifest_list" in s
                and k in ("manifests", "delete_manifests")
            )
        }
        for s in meta.doc.get("snapshots", [])
    ]
    return doc


def prepare_commit_doc(meta: TableMeta) -> dict:
    """Writer-side commit preparation — everything ``commit`` does
    BEFORE the atomic version claim.

    The snapshot commit has already written its manifest sidecars;
    this spills a manifest list for every snapshot that lacks one.
    Sidecars are fully written before any CAS, so a claimed version
    file never references an incomplete one; a LOSING commit's
    sidecars are orphaned in metadata/ (tiny, swept by
    expire/rewrite_manifests GC). Returns the serializable version
    document. The REST-catalog commit path calls this directly: the
    WRITER materializes manifest files in storage, then ships only
    the document for the catalog's pointer swap — the same split the
    real Iceberg REST protocol makes.
    """
    _spill_manifest_lists(meta)
    return _serializable_doc(meta)


def commit(meta: TableMeta) -> TableMeta:
    """CAS-commit: claim v(N+1).json atomically, then repoint the hint.

    The document is fully written to a unique tmp file and ``os.link``ed
    to its version path — link is atomic and fails if the path exists,
    so exactly one writer wins each version and a claimed version file
    is always complete. Losers get ``CommitConflict`` (never a silent
    overwrite). A reader holding the old hint keeps a consistent view
    (old metadata + immutable files). Afterwards apply the
    metadata-retention GC the reference configures via table
    properties (README.md:301-337).
    """
    next_version = meta.version + 1
    path = metadata_path(meta.location, next_version)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    doc = prepare_commit_doc(meta)
    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, separators=(",", ":"), default=str)
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflict(
            f"metadata version {next_version} already committed at {meta.location}"
        ) from None
    finally:
        os.unlink(tmp)

    hint = os.path.join(meta.location, HINT_FILE)
    hint_tmp = f"{hint}.{uuid.uuid4().hex[:8]}.tmp"
    with open(hint_tmp, "w") as f:
        f.write(str(next_version))
    os.replace(hint_tmp, hint)

    committed = TableMeta(meta.doc, next_version, meta.location)
    # Manifests are immutable: hand the loaded-manifest cache to the
    # successor TableMeta so the next commit's parent-reuse check and
    # reads never re-parse sidecars already seen by this process (the
    # re-load was the dominant commit cost at 10^5 files).
    committed._mf_cache = meta._mf_cache
    committed._mf_idset = meta._mf_idset
    _gc_metadata(committed)
    return committed


def _gc_metadata(meta: TableMeta) -> None:
    """Honor write.metadata.previous-versions-max +
    delete-after-commit.enabled (A28)."""
    if meta.properties.get(PROP_DELETE_AFTER_COMMIT, "false").lower() != "true":
        return
    keep = int(meta.properties.get(PROP_PREV_VERSIONS_MAX, "100"))
    floor = meta.version - keep
    mdir = os.path.join(meta.location, METADATA_DIR)
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            try:
                v = int(name[1:-5])
            except ValueError:
                continue
            if v < floor:
                # A concurrent committer's GC pass may remove the same
                # file first; a successful commit must not raise for a
                # lost cleanup race.
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(mdir, name))
