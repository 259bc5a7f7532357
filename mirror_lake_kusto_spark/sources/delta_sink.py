"""Minimal Delta-protocol table writer (no delta-spark dependency).

The reference *consumes* Delta tables that Spark jobs author
(MirrorLakeKustoTest authors them with PySpark scripts, e.g.
Simple/Scripts/DoingCheckpointTx.py:2-4) and publishes into Kusto with
an O(metadata) atomic `.move extents` (BlobLoadingOrchestration.cs:57-86,
K5/O11).  This module provides both halves for an environment without
the delta-spark package, speaking the public Delta transaction-log
protocol (delta-io PROTOCOL.md, cited by the reference at
Storage/DeltaLake/TransactionLogEntry.cs:15):

- data files are regular parquet written by Spark executors;
- a commit = one atomically-created ``_delta_log/<20-digit>.json`` of
  newline-delimited add/remove/metaData actions — creation with
  ``open(..., "x")`` is the optimistic-concurrency point, exactly
  Delta's rename-based commit;
- every ``checkpoint_interval`` commits a parquet checkpoint +
  ``_last_checkpoint`` pointer is written (what the reference reads at
  DeltaTableGateway.cs:20-26 / TransactionLogEntry.cs:365-398).

Scale posture: data moves only through ``df.write.parquet`` (executors,
columnar, never collected); the driver touches metadata only (file
names, sizes, row counts from parquet footers) — same split as Delta
itself.  Commits list O(files-per-commit) entries; snapshot
reconstruction is the reader's job (delta_log.py) and runs as a Spark
job over the log files.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from . import fs as _fs
from .delta_log import hive_partition_values
from .skipping import file_stats_json

TX_FMT = "{:020d}"


class ConcurrentCommitConflict(RuntimeError):
    """A concurrent writer committed actions touching the same files
    between this commit's attempt and its retry (optimistic-concurrency
    loser with a real conflict — caller must re-plan from the new
    snapshot)."""


def _log_dir(table_path: str) -> str:
    return _fs.join(table_path, "_delta_log")


# Legacy features implied by pre-table-features protocol versions
# (PROTOCOL.md "Table Features" upgrade rules): bumping a table to
# minWriterVersion 7 / minReaderVersion 3 must ENUMERATE everything the
# old version numbers implicitly enabled, or external writers stop
# enforcing them (appendOnly, invariants, ...).
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("changeDataFeed", "generatedColumns"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}
_LEGACY_READER_FEATURES = {2: ("columnMapping",)}


def upgraded_protocol(
    cur: dict | None,
    reader_features: Sequence[str] = (),
    writer_features: Sequence[str] = (),
) -> dict:
    """Feature-upgrade merge per PROTOCOL.md: take the table's current
    protocol, add the requested table features, and — when crossing
    from a legacy version into table-features versions — enumerate the
    legacy features the previous minReader/WriterVersion implied.
    Reader features are mirrored into writerFeatures (the spec requires
    reader-writer features listed in both)."""
    cur = cur or {}
    old_r = cur.get("minReaderVersion") or 1
    old_w = cur.get("minWriterVersion") or 2
    rf = set(cur.get("readerFeatures") or []) | set(reader_features)
    wf = set(cur.get("writerFeatures") or []) | set(writer_features)
    if old_w < 7:
        for ver, feats in _LEGACY_WRITER_FEATURES.items():
            if ver <= old_w:
                wf.update(feats)
    # a WRITER-ONLY upgrade (e.g. changeDataFeed) must not raise the
    # reader version: minWriterVersion 7 + any reader version is legal
    # per PROTOCOL.md, and bumping readers to 3 with an empty feature
    # list would lock out every reader for no reason
    bump_reader = bool(rf) or old_r >= 3
    if bump_reader and old_r < 3:
        for ver, feats in _LEGACY_READER_FEATURES.items():
            if ver <= old_r:
                rf.update(feats)
    wf |= rf
    out = {
        "minReaderVersion": max(old_r, 3) if bump_reader else old_r,
        "minWriterVersion": max(old_w, 7),
        "writerFeatures": sorted(wf),
    }
    if bump_reader:
        out["readerFeatures"] = sorted(rf)
    return out


def _list_versions(table_path: str) -> list[int]:
    d = _log_dir(table_path)
    out = []
    for name in _fs.get_fs(table_path).listdir(d):
        if name.endswith(".json") and len(name) == 25:
            try:
                out.append(int(name[:20]))
            except ValueError:
                continue
    return sorted(out)



def _safe_parquet_meta(path: str):
    """Footer metadata, or None when the footer carries a logical type
    pyarrow cannot parse (Spark's parquet VARIANT annotation is newer
    than pyarrow's Thrift enum) — callers fall back to a distributed
    row count and stat-less adds (stats are advisory)."""
    try:
        return _fs.parquet_metadata(path)
    except OSError:
        return None


def _spark_row_counts(spark, root: str) -> dict[str, int]:
    """Rows per parquet file under ``root`` in ONE distributed job —
    the footer-free fallback for files pyarrow cannot open."""
    import pyspark.sql.functions as F

    fs = _fs.get_fs(root)
    rows = (
        spark.read.parquet(root)
        .groupBy(F.col("_metadata.file_path").alias("p"))
        .count()
        .collect()
    )
    return {fs.normalize(r["p"]): int(r["count"]) for r in rows}


class CommitCoordinator:
    """The commit-point seam: atomically create commit file ``path``
    with ``data`` IF ABSENT, else raise FileExistsError.  Every Delta
    implementation needs this primitive; where the filesystem provides
    it (POSIX open(x), HDFS/ABFS/GCS create-no-overwrite, MemoryFS
    setdefault) the default FsCommitCoordinator suffices.  Raw
    S3-family stores CANNOT (delta-io documents the same gap — its
    answer is the LogStore/commit-coordinator plugin); there, plug a
    coordinator backed by a conditional-put service (DynamoDB-style)
    or a shared lock."""

    def create_commit(self, fs, path: str, data: str) -> None:
        raise NotImplementedError


class FsCommitCoordinator(CommitCoordinator):
    """Default: delegate to the backend's atomic create-if-absent."""

    def create_commit(self, fs, path: str, data: str) -> None:
        fs.create_exclusive(path, data)


class LockCommitCoordinator(CommitCoordinator):
    """Exclusive-create via a shared lock + exists-check + write: the
    correct shape for stores whose create is NOT conditional (raw S3),
    as long as every writer routes commits through the same lock —
    this in-process registry covers multi-threaded writers and is the
    test double for an external lock/lease service (the reference's
    analogue is the checkpoint temp-blob/rename dance,
    CheckpointGateway.cs:96-104)."""

    _locks: dict = {}
    _registry_lock = threading.Lock()

    @classmethod
    def _lock_for(cls, table_path: str):
        with cls._registry_lock:
            return cls._locks.setdefault(table_path, threading.Lock())

    def __init__(self, table_path: str):
        self._lock = self._lock_for(table_path)

    def create_commit(self, fs, path: str, data: str) -> None:
        with self._lock:
            if fs.exists(path):
                raise FileExistsError(path)
            fs.write_text(path, data)


class StagedCommitCoordinator(CommitCoordinator):
    """Coordinated-commits WRITER (round 9, PROTOCOL.md coordinated
    commits): instead of creating the plain ``<v>.json``, stage the
    commit as ``_delta_log/_commits/<v>.<uuid>.json`` and ask the
    NAMED coordinator client to RATIFY it — the client is the single
    arbiter of which staged candidate wins a version, so this works on
    stores with no conditional create at all (the raw-S3 gap).  A
    ratification conflict surfaces as FileExistsError, driving
    DeltaSink._commit's ordinary rebase-and-retry loop.  Version 0
    bootstraps PLAIN (the spec requires commit 0 backfilled) so any
    reader can discover the table and its declared coordinator.
    Race-loser staged files are simply never ratified; readers through
    the client ignore them, and :meth:`DeltaSink.backfill_commits`
    publishes only ratified spellings."""

    def __init__(self, name: str):
        from .coordinator import (
            CommitCoordinatorClient,
            commit_coordinator_for,
        )

        client = commit_coordinator_for(name)
        if client is None:
            raise ValueError(
                f"no registered commit coordinator {name!r}; register "
                "one via coordinator.register_commit_coordinator"
            )
        # a client that cannot arbitrate (base-class commit()) must
        # never see a staged candidate: its ratification failure would
        # strand a sole staged file that a uniqueness-inferring reader
        # (FileSystemCommitCoordinator) then serves as ratified — a
        # FAILED commit becoming readable is the atomicity violation
        # this writer exists to prevent.
        if type(client).commit is CommitCoordinatorClient.commit:
            raise ValueError(
                f"commit coordinator {name!r} "
                f"({type(client).__name__}) is read-only — it cannot "
                "arbitrate staged candidates; write through an "
                "arbitrating client (e.g. TrackingCommitCoordinator)"
            )
        self.name = name
        self.client = client

    @classmethod
    def for_catalog(cls, table_path: str) -> "StagedCommitCoordinator":
        """Resolve the arbitrating client through the CATALOG BINDING
        (round 10): catalogManaged tables carry no coordinator name in
        their metaData — the managing catalog is bound per path via
        coordinator.register_catalog_table."""
        from .coordinator import catalog_for_table

        name = catalog_for_table(table_path)
        if name is None:
            raise ValueError(
                f"{table_path} is not bound to a managing catalog; "
                "bind it with coordinator.register_catalog_table("
                "path, client_name) before writing catalog-managed"
            )
        return cls(name)

    def create_commit(self, fs, path: str, data: str) -> None:
        import os as _os
        import re as _re
        import uuid as _uuid

        from .coordinator import CommitConflict

        m = _re.search(r"(\d{20})\.json$", path)
        if not m:
            raise ValueError(f"not a commit path: {path}")
        v = int(m.group(1))
        if v == 0:
            fs.create_exclusive(path, data)  # bootstrap stays plain
            return
        log = _os.path.dirname(path)
        rel = f"_commits/{v:020d}.{_uuid.uuid4()}.json"
        fs.makedirs(f"{log}/_commits")
        fs.write_text(f"{log}/{rel}", data)
        try:
            self.client.commit(_os.path.dirname(log), v, rel)
        except CommitConflict as exc:
            # our candidate LOST — remove it so no uniqueness-inferring
            # reader can ever mistake it for the winner;
            # FileExistsError is the retry signal _commit understands
            self._discard(fs, f"{log}/{rel}")
            raise FileExistsError(str(exc)) from exc
        except Exception as commit_err:
            # ratification status unknown (client crashed mid-call).
            # Deleting blindly can DESTROY a commit the client DID
            # record before failing (its only copy is the staged file,
            # and backfill copies from it); keeping it blindly risks a
            # torn read via ratified-by-uniqueness inference.  Ask the
            # client what it actually recorded:
            try:
                recorded = self.client.get_commits(
                    _os.path.dirname(log), v
                ).get(v)
            except Exception:
                # client unreachable for reads too: keep the file (it
                # may be the ratified copy) and surface the ORIGINAL
                # commit error, not the probe's — a later read
                # resolves through the client, never through
                # uniqueness, because writers on this path are
                # arbitrating clients by construction
                raise commit_err from None
            if recorded == rel:
                return  # the commit actually succeeded
            # not ratified (or another candidate won): safe to discard
            self._discard(fs, f"{log}/{rel}")
            raise

    @staticmethod
    def _discard(fs, staged_path: str) -> None:
        try:
            fs.remove(staged_path)
        except Exception:
            pass  # best-effort: an arbitrating reader ignores it anyway


#: schemes whose plain create cannot be made conditional — commits
#: there MUST go through an explicit coordinator or they can tear
#: under concurrent writers (delta-io's S3 single-cluster caveat)
_UNSAFE_EXCLUSIVE_SCHEMES = {"s3", "s3a", "s3n"}


def _actions_parquet_bytes(rows: list[dict], spark_schema) -> bytes:
    """Serialize driver-side action rows to checkpoint parquet bytes
    with pyarrow — the checkpoint state already lives on the driver,
    so a Spark write job would only round-trip it through a pickled
    Python RDD (measured seconds of overhead per checkpoint even for
    tiny logs).  The arrow schema is derived from the SAME Spark
    schema the readers use, so spark.read.parquet and the pyarrow
    checkpoint-column reader see byte-identical layouts."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    tbl = pa.Table.from_pylist(rows, schema=to_arrow_schema(spark_schema))
    buf = pa.BufferOutputStream()
    pq.write_table(tbl, buf, compression="snappy")
    return buf.getvalue().to_pybytes()


def _stamp_mapping_identity(
    fields: list[dict], conf: dict
) -> tuple[list[dict], int]:
    """Column-mapping enablement: assign every field missing one its
    physical identity — ``physicalName`` = the current logical
    spelling (what the EXISTING parquet files carry) plus the next
    ``columnMapping.id``.  Shared by evolve_rename and evolve_drop so
    the enablement rules can never diverge.  Returns (stamped field
    copies, new maxColumnId)."""
    max_id = int(conf.get("delta.columnMapping.maxColumnId") or 0)
    out = []
    for f in fields:
        md = dict(f.get("metadata") or {})
        if "delta.columnMapping.physicalName" not in md:
            md["delta.columnMapping.physicalName"] = f["name"]
        if "delta.columnMapping.id" not in md:
            max_id += 1
            md["delta.columnMapping.id"] = max_id
        out.append({**f, "metadata": md})
    return out, max_id


def _by_partition(files: list[dict]) -> list[list[dict]]:
    """``files`` grouped by partition tuple — each group rewrites into
    its own partition directory."""
    groups: dict[tuple, list[dict]] = {}
    for f in files:
        key = tuple(sorted((f["partitionValues"] or {}).items()))
        groups.setdefault(key, []).append(f)
    return list(groups.values())


class DeltaSink:
    """Append / delete / optimize on a local or shared-FS Delta table."""

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        partition_by: Sequence[str] = (),
        checkpoint_interval: int = 10,
        checkpoint_parts: int | None = None,
        checkpoint_format: str = "classic",
        commit_coordinator: CommitCoordinator | None = None,
        coordinated_commits: str | None = None,
        catalog_managed: bool = False,
    ):
        self.spark = spark
        self.path = table_path
        if sum(
            x is not None
            for x in (commit_coordinator, coordinated_commits)
        ) + bool(catalog_managed) > 1:
            raise ValueError(
                "pass at most one of commit_coordinator, "
                "coordinated_commits, catalog_managed"
            )
        if coordinated_commits is not None:
            commit_coordinator = StagedCommitCoordinator(coordinated_commits)
        elif catalog_managed:
            # catalogManaged WRITE (round 10): commits stage and are
            # ratified by the catalog client bound to this path; the
            # metaData carries NO coordinator name (the spec leaves
            # the catalog identity out-of-band), and the v0 bootstrap
            # advertises the catalogManaged reader+writer feature so
            # unbound filesystem readers fail closed
            commit_coordinator = StagedCommitCoordinator.for_catalog(
                table_path
            )
        self.coordinated_commits = coordinated_commits
        self.catalog_managed = bool(catalog_managed)
        self.partition_by = list(partition_by)
        self.checkpoint_interval = checkpoint_interval
        self.checkpoint_parts = checkpoint_parts
        if checkpoint_format not in ("classic", "v2"):
            raise ValueError(
                f"checkpoint_format must be 'classic' or 'v2', "
                f"got {checkpoint_format!r}"
            )
        self.checkpoint_format = checkpoint_format
        if commit_coordinator is None:
            if _fs.scheme_of(table_path) in _UNSAFE_EXCLUSIVE_SCHEMES:
                raise ValueError(
                    f"{table_path}: raw S3 cannot do atomic "
                    "create-if-absent, so concurrent writers could tear "
                    "a commit — pass commit_coordinator= (a conditional"
                    "-put service adapter, or LockCommitCoordinator if "
                    "all writers share this process / an external lock)"
                )
            commit_coordinator = FsCommitCoordinator()
        self.coordinator = commit_coordinator
        self._pending_schema = "{}"
        #: configuration for the NEXT metaData action (clone copies the
        #: source's properties through this); None = carry forward
        self._pending_configuration: dict | None = None
        self.fs = _fs.get_fs(table_path)
        self.fs.makedirs(_log_dir(table_path))
        if self.catalog_managed:
            self._adopt_catalog_managed()

    def _adopt_catalog_managed(self) -> None:
        """Adopting an EXISTING table as catalog-managed publishes the
        catalogManaged protocol upgrade as a PLAIN (backfilled) commit
        BEFORE any staged writes: a staged upgrade is invisible to
        unbound filesystem readers, who would then silently serve the
        stale published prefix instead of failing closed (round-10
        review finding).  No-op for new tables (the v0 bootstrap
        declares the feature) and already-declared tables."""
        import json as _json

        from .delta_log import latest_protocol

        for _ in range(5):
            v = self._next_version()
            if v == 0:
                return  # new table: bootstrap declares the feature
            cur = latest_protocol(self.path)
            up = upgraded_protocol(
                cur, ("catalogManaged",), ("catalogManaged",)
            )
            if up == cur:
                return
            target = _fs.join(
                _log_dir(self.path), TX_FMT.format(v) + ".json"
            )
            try:
                self.fs.create_exclusive(
                    target, _json.dumps({"protocol": up}) + "\n"
                )
                return
            except FileExistsError:
                continue  # lost a race to the plain spelling: re-read
        raise ConcurrentCommitConflict(
            f"{self.path}: could not publish the catalogManaged "
            "protocol upgrade after 5 attempts — concurrent writers "
            "keep taking the next version"
        )

    # -- commit machinery ---------------------------------------------------

    def _next_version(self) -> int:
        """Head+1 over BOTH the JSON commits and the checkpoint: after
        log truncation (vacuum at head, v2-checkpoint conversion) no
        JSON may survive, and a writer that fell back to version 0
        would commit BEHIND the checkpoint — invisible to every
        reader."""
        from .delta_log import read_last_checkpoint

        vs = _list_versions(self.path)
        ckpt = read_last_checkpoint(self.path)
        cands = vs[-1:] + ([ckpt] if ckpt is not None else [])
        if isinstance(self.coordinator, StagedCommitCoordinator):
            # ratified-but-unbackfilled tail counts toward the head
            rat = self.coordinator.client.get_commits(self.path, 0)
            if rat:
                cands.append(max(rat))
        return (max(cands) + 1) if cands else 0

    def backfill_commits(self, upto: int | None = None) -> int:
        """Publish ratified staged commits as plain ``<v>.json`` files
        (PROTOCOL.md backfill rules): version order, idempotent, and
        tolerant of a concurrent backfiller (losing the exclusive
        create means someone else already published the identical
        bytes).  After backfill the staged spellings become published
        duplicates every reader tolerates.  Returns the number of
        commits published."""
        if not isinstance(self.coordinator, StagedCommitCoordinator):
            raise ValueError(
                "backfill_commits needs a coordinated sink "
                "(coordinated_commits=...)"
            )
        log = _log_dir(self.path)
        n = 0
        for v, rel in sorted(
            self.coordinator.client.get_commits(self.path, 0).items()
        ):
            if upto is not None and v > upto:
                break
            plain = _fs.join(log, TX_FMT.format(v) + ".json")
            if self.fs.exists(plain):
                continue
            try:
                self.fs.create_exclusive(
                    plain, self.fs.read_text(_fs.join(log, rel))
                )
            except FileExistsError:
                continue
            n += 1
        return n

    def _commit(
        self,
        actions: list[dict],
        operation: str | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Atomically create the next numbered commit file.  ``open(x)``
        fails if a concurrent writer won the version — retry with the
        next number (optimistic concurrency, Delta-style).
        ``operation`` records a Delta-style ``commitInfo`` action (the
        audit row ``history()`` surfaces).  ``expected_version`` makes
        the commit compare-and-swap: it must land at exactly that
        version or raise ConcurrentCommitConflict — the read-modify-
        write primitive set_properties needs (a version stolen between
        its read and its write would otherwise be overwritten blind)."""
        if operation is not None:
            actions = [
                {
                    "commitInfo": {
                        "timestamp": int(time.time() * 1000),
                        "operation": operation,
                        "operationParameters": {},
                    }
                },
                *actions,
            ]
        attempted: int | None = None
        # per-_commit marker: which adds THIS call stamped (so a retry
        # re-stamps them from the fresh watermark, while adds that
        # arrived pre-assigned are never touched)
        self._rt_stamped_ids = set()
        while True:
            v = self._next_version()
            if expected_version is not None and v != expected_version:
                raise ConcurrentCommitConflict(
                    f"expected to commit version {expected_version} but "
                    f"head moved to {v - 1}; re-read and retry"
                )
            if attempted is not None and v > attempted:
                # lost the race: another writer committed [attempted, v).
                # Re-submitting blindly is only safe when the winners
                # touched disjoint files (concurrent DELETE/OPTIMIZE can
                # otherwise both remove the same path) — Delta's
                # conflict-detection rule, simplified to fail-on-overlap.
                self._check_conflicts(range(attempted, v), actions)
            target = _fs.join(_log_dir(self.path), TX_FMT.format(v) + ".json")
            body = []
            real_actions = [a for a in actions if "commitInfo" not in a]
            if v == 0:
                if not real_actions and self._pending_schema == "{}":
                    # first-ever operation wrote no data and no schema is
                    # known (OPTIMIZE/DELETE on an empty table): a v0
                    # bootstrap would record the "{}" placeholder and
                    # leave the table unreadable — skip the commit
                    return -1
                proto = {"minReaderVersion": 1, "minWriterVersion": 2}
                if getattr(self, "coordinated_commits", None):
                    # writer feature only: readers read the backfilled
                    # prefix normally; writers must route through the
                    # coordinator or they could tear versions
                    proto = upgraded_protocol(
                        proto, (), ("coordinatedCommits",)
                    )
                if getattr(self, "catalog_managed", False):
                    # reader AND writer feature: the filesystem log can
                    # lag the catalog-owned truth, so unbound readers
                    # must fail closed (delta_log._FEATURE_NOTES)
                    proto = upgraded_protocol(
                        proto, ("catalogManaged",), ("catalogManaged",)
                    )
                if self._schema_uses_variant():
                    # VARIANT columns are feature-gated (PROTOCOL.md
                    # "Variant Data Type"): readers that don't know the
                    # shredded layout must refuse, so the bootstrap
                    # protocol must advertise it
                    proto = upgraded_protocol(
                        proto, ("variantType",), ("variantType",)
                    )
                body.append({"protocol": proto})
                body.append({"metaData": self._metadata_action()})
            elif (
                prev_ss := self._schema_changed_from(actions)
            ) is not None:
                # appending a different schema records new metaData, so
                # readers (and the mirror's schema guard) see the change
                # (skipped when the caller supplies metaData explicitly,
                # e.g. evolve_rename)
                record_meta = True
                if self._current_mapping():
                    def _nn(key):
                        # nullability-normalized: an incoming frame
                        # with tighter nullability (spark.range's NOT
                        # NULL id) is storable under the recorded
                        # nullable schema as-is
                        def relax(node):
                            if isinstance(node, dict):
                                return {
                                    k: (True if k == "nullable" else relax(v))
                                    for k, v in node.items()
                                }
                            if isinstance(node, list):
                                return [relax(v) for v in node]
                            return node

                        return relax(key)

                    if _nn(self._schema_key(prev_ss)) == _nn(
                        self._schema_key(self._pending_schema)
                    ):
                        # nullability-only drift on a mapped table:
                        # keep the recorded metaData (round 12 — the
                        # unmapped path re-records it; here recording
                        # would clobber the mapping annotations)
                        self._pending_schema = prev_ss
                        record_meta = False
                    else:
                        raise ValueError(
                            "schema-changing append on a column-mapped "
                            "table would clobber the logical->physical "
                            "mapping; rename via evolve_rename(), add "
                            "columns via evolve_add(), then append "
                            "under the current logical schema"
                        )
                if record_meta:
                    # a retype inside the change: lossless widenings
                    # are legal but make the old (narrow) files
                    # readable only under typeWidening promotion —
                    # annotate the per-field delta.typeChanges history
                    # and gate the feature; anything lossy fails loudly
                    # (silently recording the new type would corrupt
                    # old rows on read)
                    widened = self._annotate_type_changes(prev_ss)
                    feats = []
                    if self._schema_uses_variant():
                        feats.append("variantType")
                    if widened:
                        feats.append("typeWidening")
                    if feats:
                        from .delta_log import latest_protocol

                        cur = latest_protocol(self.path)
                        need = [
                            f
                            for f in feats
                            if f
                            not in ((cur or {}).get("readerFeatures") or [])
                        ]
                        if need:
                            pr = upgraded_protocol(
                                cur, tuple(need), tuple(need)
                            )
                            if pr != cur:
                                body.append({"protocol": pr})
                    body.append({"metaData": self._metadata_action()})
            body.extend(actions)
            if not [a for a in body if "commitInfo" not in a]:
                # nothing to record (e.g. OPTIMIZE/DELETE that matched
                # nothing): a commit carrying at most commitInfo is
                # protocol noise — skip it and report the current version
                return v - 1
            self._stamp_row_ids(v, body)
            self._stamp_ict(v, body)
            try:
                self.coordinator.create_commit(
                    self.fs,
                    target,
                    "\n".join(json.dumps(a) for a in body) + "\n",
                )
            except FileExistsError:
                # lost the race: another writer committed — its commit
                # may carry new metadata (e.g. a rename), so the memo
                # must be re-derived before we retry
                self._mapping_cache = False
                self._tbl_types_cache = False
                self._fields_cache = False
                self._ict_cache = None
                self._rt_cache = None
                self._rt_hwm_cache = None
                self._rt_mats_cache = False
                self._ident_cache = None
                attempted = v
                continue
            if any("metaData" in a for a in body):
                # our own metaData may have flipped table-level
                # behaviors (ICT, column mapping, row tracking,
                # identity, column types) — re-derive next time
                self._tbl_types_cache = False
                self._fields_cache = False
                self._ict_cache = None
                self._rt_cache = None
                self._rt_mats_cache = False
                self._ident_cache = None
            for a in body:
                dm = a.get("domainMetadata") or {}
                if dm.get("domain") == "delta.rowTracking":
                    self._rt_hwm_cache = int(
                        json.loads(dm["configuration"])[
                            "rowIdHighWaterMark"
                        ]
                    )
            if (v + 1) % self.checkpoint_interval == 0 and not getattr(
                self, "_ckpt_suspended", False
            ):
                self._write_checkpoint(v)
            return v

    #: memoized "table has delta.enableInCommitTimestamps=true"; None =
    #: not yet derived.  Invalidated on a lost commit race and whenever
    #: this writer commits metaData itself.
    _ict_cache: "bool | None" = None

    def _ict_enabled(self, body: list[dict]) -> bool:
        """Is in-commit-timestamp stamping on for THIS commit?  The
        enabling commit itself already stamps (PROTOCOL.md "In-Commit
        Timestamps": required from the enablement commit onward), so
        a metaData action in the body overrides the table state."""
        for a in body:
            md = a.get("metaData")
            if md is not None:
                return (
                    str(
                        (md.get("configuration") or {}).get(
                            "delta.enableInCommitTimestamps", ""
                        )
                    ).lower()
                    == "true"
                )
        if self._ict_cache is None:
            from .delta_log import latest_metadata

            try:
                meta = latest_metadata(self.spark, self.path) or {}
            except FileNotFoundError:
                meta = {}
            self._ict_cache = (
                str(
                    (meta.get("configuration") or {}).get(
                        "delta.enableInCommitTimestamps", ""
                    )
                ).lower()
                == "true"
            )
        return self._ict_cache

    def _stamp_ict(self, v: int, body: list[dict]) -> None:
        """Write ``commitInfo.inCommitTimestamp`` = max(now, prev + 1)
        when the inCommitTimestamp writer feature is active — the
        table-internal clock that survives file copies and makes
        timestamp time travel authoritative (PROTOCOL.md "In-Commit
        Timestamps").  One driver-side metadata read of the head
        commit per write, only on ICT tables."""
        if not self._ict_enabled(body):
            return
        from .delta_log import _commit_info_of

        now = int(time.time() * 1000)
        prev = 0
        if v > 0:
            try:
                info = _commit_info_of(self.path, v - 1) or {}
                prev = int(
                    info.get("inCommitTimestamp")
                    or info.get("timestamp")
                    or 0
                )
            except FileNotFoundError:
                prev = 0
        ict = max(now, prev + 1)
        for a in body:
            md = a.get("metaData")
            if md is not None:
                conf = md.get("configuration") or {}
                if conf.get(
                    "delta.inCommitTimestampEnablementVersion"
                ) == str(v):
                    # the enabling commit: the recorded enablement
                    # clock must equal the inCommitTimestamp actually
                    # stamped into this commit (PROTOCOL.md)
                    conf["delta.inCommitTimestampEnablementTimestamp"] = (
                        str(ict)
                    )
        for a in body:
            if "commitInfo" in a:
                a["commitInfo"]["inCommitTimestamp"] = ict
                return
        body.insert(
            0,
            {
                "commitInfo": {
                    "timestamp": now,
                    "inCommitTimestamp": ict,
                    "operation": "WRITE",
                    "operationParameters": {},
                }
            },
        )

    #: memoized "table has delta.enableRowTracking=true"; None = not
    #: yet derived.  Same invalidation discipline as _ict_cache.
    _rt_cache: "bool | None" = None
    #: memoized row-id high-water mark; None = re-read from the log
    _rt_hwm_cache: "int | None" = None

    def _rt_enabled(self, body: list[dict] | None = None) -> bool:
        """Is row tracking (PROTOCOL.md "Row Tracking") on for THIS
        commit?  A metaData action in the body overrides the table
        state (the enabling commit itself already assigns ids)."""
        for a in body or ():
            md = a.get("metaData")
            if md is not None:
                return (
                    str(
                        (md.get("configuration") or {}).get(
                            "delta.enableRowTracking", ""
                        )
                    ).lower()
                    == "true"
                )
        if self._rt_cache is None:
            from .delta_log import latest_metadata

            try:
                meta = latest_metadata(self.spark, self.path) or {}
            except FileNotFoundError:
                meta = {}
            self._rt_cache = (
                str(
                    (meta.get("configuration") or {}).get(
                        "delta.enableRowTracking", ""
                    )
                ).lower()
                == "true"
            )
        return self._rt_cache

    def _rt_hwm(self) -> int:
        """Current row-id high-water mark from the delta.rowTracking
        domain metadata (-1 when no id was ever assigned)."""
        if self._rt_hwm_cache is None:
            from .delta_log import latest_domain_metadata

            conf = latest_domain_metadata(self.path).get(
                "delta.rowTracking"
            )
            self._rt_hwm_cache = (
                int(json.loads(conf).get("rowIdHighWaterMark", -1))
                if conf
                else -1
            )
        return self._rt_hwm_cache

    def _stamp_row_ids(self, v: int, body: list[dict]) -> None:
        """Assign fresh ``baseRowId`` / ``defaultRowCommitVersion`` to
        every add and advance the ``delta.rowTracking`` high-water mark
        in the SAME commit (PROTOCOL.md "Row Tracking": writers with
        the feature MUST do both).  Re-stamps idempotently on each
        optimistic-concurrency retry — a race loser re-reads the
        winner's advanced watermark and rebases its id range.  Adds
        that arrive with a baseRowId already set (DV re-adds, the
        backfill) keep it: those rows' identities must not change."""
        if not self._rt_enabled(body):
            return
        stamped = self._rt_stamped_ids
        adds = [
            a["add"]
            for a in body
            if "add" in a
            and (
                a["add"].get("baseRowId") is None
                or id(a["add"]) in stamped
            )
        ]
        if not adds:
            # nothing to stamp: a caller-supplied watermark action
            # (the backfill commit) must survive untouched
            return
        # drop any watermark action a previous (lost) iteration OR the
        # caller added — we are about to write a superseding one
        caller_hwm = -1
        kept: list[dict] = []
        for a in body:
            dm = a.get("domainMetadata") or {}
            if dm.get("domain") == "delta.rowTracking":
                try:
                    caller_hwm = int(
                        json.loads(dm.get("configuration") or "{}").get(
                            "rowIdHighWaterMark", -1
                        )
                    )
                except ValueError:
                    pass
                continue
            kept.append(a)
        body[:] = kept
        # fresh ids start past the stored watermark, any range the
        # caller pre-assigned in THIS commit, and the caller's own
        # watermark — never overlapping any of them
        pre_end = max(
            (
                int(a["add"]["baseRowId"])
                + int(
                    json.loads(a["add"].get("stats") or "{}").get(
                        "numRecords", 1
                    )
                )
                - 1
                for a in body
                if "add" in a
                and a["add"].get("baseRowId") is not None
                and id(a["add"]) not in stamped
            ),
            default=-1,
        )
        hwm = max(self._rt_hwm(), pre_end, caller_hwm)
        for add in adds:
            stamped.add(id(add))
            try:
                n = int(json.loads(add.get("stats") or "{}")["numRecords"])
            except (KeyError, ValueError):
                raise ValueError(
                    f"row tracking needs numRecords stats to size the "
                    f"fresh id range; add for {add.get('path')!r} has "
                    "none"
                ) from None
            add["baseRowId"] = hwm + 1
            add["defaultRowCommitVersion"] = v
            hwm += n
        body.append(
            {
                "domainMetadata": {
                    "domain": "delta.rowTracking",
                    "configuration": json.dumps(
                        {"rowIdHighWaterMark": hwm}
                    ),
                    "removed": False,
                }
            }
        )

    def _enable_row_tracking(self) -> dict[str, str]:
        """Feature upgrade + id backfill for delta.enableRowTracking.
        Returns the extra configuration (materialized column names)
        the property commit must carry.  Backfill = one dataChange=
        false commit re-adding every current file with a fresh
        baseRowId range + the watermark domain metadata — the same
        shape delta-spark's ALTER TABLE backfill writes."""
        from .delta_log import latest_protocol, snapshot_files

        cur = latest_protocol(self.path)
        have = set((cur or {}).get("writerFeatures") or [])
        if not {"rowTracking", "domainMetadata"} <= have:
            self._commit_protocol_upgrade(
                writer_features=("rowTracking", "domainMetadata")
            )
        for _attempt in range(5):
            files = snapshot_files(self.spark, self.path)
            todo = [f for f in files if f.get("baseRowId") is None]
            if not todo:
                break
            self._rt_hwm_cache = None
            hwm = self._rt_hwm()
            # pin the commit version (CAS) so defaultRowCommitVersion
            # can be written INTO the backfill adds themselves
            expected = self._next_version()
            acts: list[dict] = []
            for f in sorted(todo, key=lambda f: f["path"]):
                n = f.get("numRecords")
                if n is None:
                    raise ValueError(
                        f"cannot backfill row ids: {f['path']} has no "
                        "numRecords stats"
                    )
                add = {
                    "path": f["path"],
                    "partitionValues": f["partitionValues"] or {},
                    "size": f["size"],
                    "modificationTime": 0,
                    "dataChange": False,
                    "stats": f.get("stats")
                    or json.dumps({"numRecords": n}),
                    "deletionVector": f.get("deletionVector"),
                    "baseRowId": hwm + 1,
                    "defaultRowCommitVersion": expected,
                }
                if f.get("tags"):
                    # the backfill re-add points at the SAME physical
                    # file — its clustered-provenance tag must survive
                    # or the next OPTIMIZE re-clusters it for nothing
                    add["tags"] = f["tags"]
                acts.append({"add": add})
                hwm += int(n)
            acts.append(
                {
                    "domainMetadata": {
                        "domain": "delta.rowTracking",
                        "configuration": json.dumps(
                            {"rowIdHighWaterMark": hwm}
                        ),
                        "removed": False,
                    }
                }
            )
            try:
                self._commit(
                    acts,
                    operation="ROW TRACKING BACKFILL",
                    expected_version=expected,
                )
                self._rt_hwm_cache = hwm
                break
            except ConcurrentCommitConflict:
                continue
        else:
            raise ConcurrentCommitConflict(
                f"{self.path}: row-id backfill kept losing the commit "
                "race"
            )
        # idempotent re-enable: regenerating the materialized column
        # names would orphan every id already materialized under the
        # old names — keep the configured ones when present
        cur_id, cur_rcv = self._rt_mat_cols()
        if cur_id and cur_rcv:
            return {
                "delta.rowTracking.materializedRowIdColumnName": cur_id,
                "delta.rowTracking."
                "materializedRowCommitVersionColumnName": cur_rcv,
            }
        suffix = uuid.uuid4().hex[:8]
        return {
            "delta.rowTracking.materializedRowIdColumnName":
                f"_row-id-col-{suffix}",
            "delta.rowTracking.materializedRowCommitVersionColumnName":
                f"_row-commit-version-col-{suffix}",
        }

    #: memoized _rt_mat_cols result; False = not yet derived (None is
    #: a legal value).  One driver-side log walk per DELETE/OPTIMIZE
    #: partition GROUP otherwise.
    _rt_mats_cache: "tuple | bool" = False

    def _rt_mat_cols(self) -> tuple:
        """(materializedRowIdColumnName, materializedRowCommitVersion
        ColumnName) from the table configuration — (None, None) when
        not configured."""
        if self._rt_mats_cache is not False:
            return self._rt_mats_cache
        from .delta_log import latest_metadata

        try:
            conf = (
                latest_metadata(self.spark, self.path) or {}
            ).get("configuration") or {}
        except FileNotFoundError:
            conf = {}
        self._rt_mats_cache = (
            conf.get("delta.rowTracking.materializedRowIdColumnName"),
            conf.get(
                "delta.rowTracking.materializedRowCommitVersionColumnName"
            ),
        )
        return self._rt_mats_cache

    def _check_conflicts(self, versions, actions: list[dict]) -> None:
        """Delta's logical conflict rules (delta-io PROTOCOL.md +
        OptimisticTransaction semantics), applied by a commit-race
        LOSER before it rebases onto the winner's head and retries.
        The reference never faces this — it is single-writer by
        construction (checkpoint temp-blob/rename dance,
        Storage/CheckpointGateway.cs:96-104); a Delta mirror sharing a
        table with other writers does, daily.

        Benign (rebase + retry, no error): append vs append on
        disjoint files; OPTIMIZE (``dataChange: false`` adds/removes)
        racing an append in either direction; a winner's metaData
        that is schema-identical to mine (e.g. the two-writer
        bootstrap race) with unchanged partitioning/constraints; a
        winner's DELETE of files my commit never touches.

        True conflicts (raise ConcurrentCommitConflict — caller must
        re-plan from the new snapshot):

        - winner changed the protocol (this commit was validated
          against the old feature set);
        - winner changed metadata while this commit carries metaData
          (blind re-submit would overwrite the winner's state), or
          changed the schema / partition columns / CHECK constraints
          my staged files were written and validated under;
        - file overlap: winner added or removed a path this commit
          also adds/removes (double-remove, or an OPTIMIZE add
          resurrecting concurrently-deleted rows);
        - winner added ``dataChange: true`` files while this commit
          is a READING transaction (it removed files with
          ``dataChange: true`` — DELETE/MERGE computed from a
          snapshot): rows matching the predicate may exist in the new
          files (write-skew; Delta's WriteSerializable rule).  Blind
          appends and OPTIMIZE (``dataChange: false`` removes) are
          exempt;
        - winner advanced the same ``txn`` appId (the idempotence
          watermark this commit is about to assert would go
          backwards)."""
        mine = {
            a[k]["path"] for a in actions for k in ("add", "remove") if k in a
        }
        mine_meta = any("metaData" in a for a in actions)
        mine_adds = any("add" in a for a in actions)
        i_read_data = any(
            a["remove"].get("dataChange", True)
            for a in actions
            if "remove" in a
        )
        my_txn_apps = {
            a["txn"]["appId"] for a in actions if "txn" in a
        }
        my_domains = {
            (a["domainMetadata"].get("domain") or "")
            for a in actions
            if "domainMetadata" in a
        }
        my_schema_key = (
            self._schema_key(self._pending_schema)
            if mine_adds and self._pending_schema != "{}"
            else None
        )
        d = _log_dir(self.path)
        for v in versions:
            p = _fs.join(d, TX_FMT.format(v) + ".json")
            if not self.fs.isfile(p):
                continue
            for line in self.fs.read_text(p).splitlines():
                if not line.strip():
                    continue
                act = json.loads(line)
                if "protocol" in act:
                    self._check_protocol_conflict(v, act["protocol"])
                if "metaData" in act:
                    self._check_meta_conflict(
                        v, act["metaData"], mine_meta, my_schema_key
                    )
                if "txn" in act and act["txn"].get("appId") in my_txn_apps:
                    raise ConcurrentCommitConflict(
                        f"concurrent commit {v} advanced txn appId "
                        f"{act['txn']['appId']!r}; re-check "
                        "last_txn_version before retrying"
                    )
                if "domainMetadata" in act:
                    dom = act["domainMetadata"].get("domain") or ""
                    if dom == "delta.rowTracking":
                        # the winner advanced the row-id watermark:
                        # NOT a conflict — _stamp_row_ids re-reads it
                        # and rebases this commit's id range
                        self._rt_hwm_cache = None
                    elif dom in my_domains:
                        raise ConcurrentCommitConflict(
                            f"concurrent commit {v} wrote domain "
                            f"metadata for {dom!r} this commit also "
                            "sets; re-read and retry"
                        )
                for k in ("add", "remove"):
                    if k in act and act[k]["path"] in mine:
                        raise ConcurrentCommitConflict(
                            f"concurrent commit {v} touched "
                            f"{act[k]['path']}; retry the operation "
                            f"from the new snapshot"
                        )
                if (
                    i_read_data
                    and "add" in act
                    and act["add"].get("dataChange", True)
                ):
                    raise ConcurrentCommitConflict(
                        f"concurrent commit {v} appended data while "
                        "this commit deletes by predicate — new rows "
                        "may match; re-run the delete from the new "
                        "snapshot"
                    )

    #: writer features whose semantics this sink actually enforces on
    #: its own writes — a winner's protocol upgrade WITHIN this set is
    #: a benign rebase; anything outside it means our retried commit
    #: could violate an obligation we don't implement (e.g.
    #: identityColumns: appends must assign identity values)
    _SINK_WRITER_FEATURES = frozenset(
        {
            "appendOnly",
            "invariants",
            "checkConstraints",
            "generatedColumns",
            "changeDataFeed",
            "columnMapping",
            "deletionVectors",
            "v2Checkpoint",
            "vacuumProtocolCheck",
            "timestampNtz",
            "inCommitTimestamp",
            "rowTracking",
            "domainMetadata",
            # this sink writes variant tables itself (_schema_uses_
            # variant gate) — a rival's variantType upgrade must
            # rebase, not hard-fail the bootstrap race
            "variantType",
            "variantType-preview",
            # round 6: appends assign identity values and advance the
            # high water mark (add_identity_column)
            "identityColumns",
            # round 7: this sink widens columns itself (widen_column)
            # and upcasts narrow appends to the table schema — a
            # rival's typeWidening upgrade rebases cleanly
            "typeWidening",
            "typeWidening-preview",
            # round 7: liquid clustering (set_cluster_by + Hilbert
            # OPTIMIZE); the feature imposes no obligations on plain
            # appends, so a rival's upgrade rebases cleanly
            "clustering",
        }
    )

    def _check_protocol_conflict(self, v: int, proto: dict) -> None:
        """A winner's protocol action conflicts only when it demands
        writer obligations this sink does not implement — the
        two-writer bootstrap race (both try to commit the identical
        v0 protocol) and an upgrade within the enforced feature set
        rebase cleanly."""
        w = proto.get("minWriterVersion") or 2
        wf = set(proto.get("writerFeatures") or [])
        rf = set(proto.get("readerFeatures") or [])
        ok = (
            w in (1, 2, 3, 4, 5, 6)  # legacy versions whose implied
            # features (appendOnly/invariants/checkConstraints/CDF/
            # generatedColumns/columnMapping/identityColumns) this
            # sink enforces
            or (w == 7 and not (wf - self._SINK_WRITER_FEATURES))
        ) and not (rf - self._SINK_WRITER_FEATURES)
        if not ok:
            raise ConcurrentCommitConflict(
                f"concurrent commit {v} upgraded the table protocol to "
                f"minWriterVersion={w} writerFeatures={sorted(wf)}; "
                "this writer cannot prove its retried commit honors "
                "those obligations — re-validate and retry"
            )

    def _check_meta_conflict(
        self, v: int, winner_md: dict, mine_meta: bool, my_schema_key
    ) -> None:
        """metaData-vs-metaData is always a conflict (blind overwrite);
        a winner's metaData under MY data commit conflicts only when it
        invalidates my staged files: different schema, different
        partition columns, or new CHECK constraints my rows were never
        validated against.  Anything else (a property tweak, the
        schema-identical bootstrap race) is a benign rebase."""
        if mine_meta:
            raise ConcurrentCommitConflict(
                f"concurrent commit {v} changed table metadata; "
                "re-read and retry"
            )
        if my_schema_key is None:
            return
        winner_key = self._schema_key(winner_md.get("schemaString") or "{}")
        if winner_key != my_schema_key:
            raise ConcurrentCommitConflict(
                f"concurrent commit {v} changed the table schema; "
                "staged files no longer conform — re-plan the write"
            )
        if list(winner_md.get("partitionColumns") or []) != list(
            self.partition_by
        ):
            raise ConcurrentCommitConflict(
                f"concurrent commit {v} changed the partition "
                "columns; staged files are laid out for the old ones"
            )
        conf = winner_md.get("configuration") or {}
        if any(k.startswith("delta.constraints.") for k in conf):
            raise ConcurrentCommitConflict(
                f"concurrent commit {v} added a CHECK constraint this "
                "commit's rows were never validated against; re-run"
            )

    def _schema_uses_variant(self) -> bool:
        """Does the pending schema contain a VARIANT anywhere (top
        level or nested)?  Proper JSON walk — a column literally named
        'variant' must not trip the feature gate."""
        def walk(node) -> bool:
            if node == "variant":
                return True
            if isinstance(node, dict):
                return any(
                    walk(node.get(k))
                    for k in ("type", "elementType", "keyType",
                              "valueType", "fields")
                    if k in node
                )
            if isinstance(node, list):
                return any(walk(x) for x in node)
            return False

        try:
            return walk(json.loads(self._pending_schema))
        except ValueError:
            return False

    @staticmethod
    def _strip_field_metadata(node):
        """Schema-JSON comparison key: drop per-field ``metadata``
        recursively.  A column-mapped table's recorded schema carries
        ``delta.columnMapping.*`` field metadata the incoming frame's
        ``df.schema.json()`` never has — names/types/nullability are
        the actual schema identity."""
        if isinstance(node, dict):
            return {
                k: DeltaSink._strip_field_metadata(v)
                for k, v in node.items()
                if k != "metadata"
            }
        if isinstance(node, list):
            return [DeltaSink._strip_field_metadata(x) for x in node]
        return node

    @classmethod
    def _schema_key(cls, schema_json: str):
        """Schema identity for the append guard: per-field metadata
        stripped (column-mapping annotations are not schema identity)
        and TOP-LEVEL fields sorted by name — parquet/Delta access is
        by name throughout this engine, so a frame whose columns
        arrive in a different order (e.g. the mirror appending
        [src..., lineage...] after evolve_add put the new column last)
        is the same schema.  Nested struct field order is kept: there
        it IS part of the type."""
        parsed = cls._strip_field_metadata(json.loads(schema_json))
        if isinstance(parsed.get("fields"), list):
            parsed["fields"] = sorted(
                parsed["fields"], key=lambda f: f.get("name", "")
            )
        return parsed

    def _last_schema_string(self) -> str | None:
        """Last recorded schemaString, from a driver-side newest-first
        scan of the commit JSONs (metadata-only; no Spark job)."""
        d = _log_dir(self.path)
        for v in reversed(_list_versions(self.path)):
            text = self.fs.read_text(_fs.join(d, TX_FMT.format(v) + ".json"))
            for line in text.splitlines():
                if not line.strip():
                    continue
                act = json.loads(line)
                if "metaData" in act:
                    return act["metaData"]["schemaString"]
        return None

    def _schema_changed_from(self, actions) -> str | None:
        """The previous schemaString when this commit's pending schema
        differs from it (and no caller-supplied metaData overrides it),
        else None.  ONE reverse log scan, reused by the typeChanges
        annotation — _schema_changed + a second scan inside the branch
        would read the whole post-checkpoint JSON tail twice per
        schema-changing append."""
        if self._pending_schema == "{}" or any(
            "metaData" in a for a in actions
        ):
            return None
        prev = self._last_schema_string()
        if prev is None or self._schema_key(prev) == self._schema_key(
            self._pending_schema
        ):
            return None
        return prev

    def _annotate_type_changes(self, prev_ss: str) -> bool:
        """Called when an append's schema differs from the table's:
        classify every per-field RETYPE against the previous schema.
        Lossless widenings annotate the field's ``delta.typeChanges``
        history (recomputed from the PREVIOUS schema's entries, so the
        commit retry loop stays idempotent) and return True — the
        caller must gate the typeWidening feature.  A retype outside
        the widening matrix raises: recording it silently would make
        every old file's column read wrong.  Complex-type changes
        (nested struct evolution) pass through untouched — they keep
        the historical permissive record-metaData behavior.  Fields
        whose type is unchanged still CARRY FORWARD prior typeChanges
        history (a later added column must not erase it)."""
        from .delta_log import is_type_widening

        prev_fields = {
            f["name"]: f for f in json.loads(prev_ss)["fields"]
        }
        parsed = json.loads(self._pending_schema)
        widened = False
        dirty = False
        for f in parsed["fields"]:
            pf = prev_fields.get(f["name"])
            if pf is None:
                continue
            old_t, new_t = pf["type"], f["type"]
            prior = (pf.get("metadata") or {}).get("delta.typeChanges")
            if old_t == new_t:
                if prior and not (f.get("metadata") or {}).get(
                    "delta.typeChanges"
                ):
                    f["metadata"] = {
                        **(f.get("metadata") or {}),
                        "delta.typeChanges": prior,
                    }
                    dirty = True
                continue
            if not (isinstance(old_t, str) and isinstance(new_t, str)):
                continue  # nested evolution: historical behavior
            if not is_type_widening(old_t, new_t):
                raise ValueError(
                    f"append retypes column {f['name']!r} "
                    f"{old_t!r} -> {new_t!r}, which is not a lossless "
                    "widening (PROTOCOL.md Type Widening matrix) — "
                    "old files would read wrong; cast the input or "
                    "rewrite the table"
                )
            f["metadata"] = {
                **(f.get("metadata") or {}),
                "delta.typeChanges": list(prior or [])
                + [{"fromType": old_t, "toType": new_t}],
            }
            widened = dirty = True
        if dirty:
            self._pending_schema = json.dumps(parsed)
        return widened

    def _metadata_action(self, df: DataFrame | None = None) -> dict:
        schema_string = df.schema.json() if df is not None else self._pending_schema
        # the table id is stable for the table's lifetime and the
        # configuration (TBLPROPERTIES) must survive schema-evolving
        # commits — both carry forward from the previous metaData
        # instead of being regenerated/blanked
        prev = None
        try:
            from .delta_log import latest_metadata

            prev = latest_metadata(self.spark, self.path)
        except Exception:
            prev = None
        conf = getattr(self, "_pending_configuration", None)
        if conf is None:
            conf = dict((prev or {}).get("configuration") or {})
        else:
            self._pending_configuration = None
        if getattr(self, "coordinated_commits", None):
            # declare the coordinator so READERS can resolve the
            # registered client and serve the staged tail
            conf.setdefault(
                "delta.coordinatedCommits.commitCoordinator-preview",
                self.coordinated_commits,
            )
        # field metadata the TABLE owns (generation expressions) must
        # survive a schema-evolving append: an input frame's schema
        # never carries it, so regenerating schemaString from the df
        # would silently erase delta.generationExpression and disable
        # generated-column enforcement from then on
        if prev is not None:
            try:
                prev_meta = {
                    f["name"]: (f.get("metadata") or {})
                    for f in json.loads(prev["schemaString"])["fields"]
                }
                parsed = json.loads(schema_string)
                changed = False
                for f in parsed["fields"]:
                    keep = {
                        k: v
                        for k, v in prev_meta.get(f["name"], {}).items()
                        if k.startswith("delta.generationExpression")
                        or k == "CURRENT_DEFAULT"
                    }
                    if keep and not (f.get("metadata") or {}):
                        f["metadata"] = keep
                        changed = True
                if changed:
                    schema_string = json.dumps(parsed)
            except (KeyError, ValueError, TypeError):
                pass
        return {
            "id": (prev or {}).get("id") or str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": self.partition_by,
            "configuration": conf,
            "createdTime": int(time.time() * 1000),
        }

    def _write_checkpoint(self, version: int) -> None:
        """Flatten the whole log into ``<v>.checkpoint.parquet`` (or the
        protocol's multi-part ``<v>.checkpoint.<i>.<n>.parquet`` when
        ``checkpoint_parts`` > 1 — the shape a 10M-file table needs so
        the checkpoint itself writes and reads distributed) +
        ``_last_checkpoint`` (read path: DeltaTableGateway.cs:285-300).
        ``checkpoint_format='v2'`` writes the manifest+sidecar layout
        instead (see _write_checkpoint_v2)."""
        # the delta.checkpointPolicy TABLE PROPERTY is authoritative
        # when set (Delta's own switch — a foreign writer or
        # set_properties can flip a table to v2 checkpoints without
        # every writer changing its constructor args); the
        # constructor's checkpoint_format is the fallback
        policy = self.checkpoint_format
        try:
            policy = self.properties().get(
                "delta.checkpointPolicy"
            ) or policy
        except FileNotFoundError:
            pass  # first-ever commit: no metadata yet
        if policy == "v2":
            return self._write_checkpoint_v2(version)
        from .delta_log import ACTIONS_SCHEMA, reconciled_action_rows

        rows = reconciled_action_rows(self.spark, self.path, upto=version)
        log = _log_dir(self.path)
        n_parts = min(self.checkpoint_parts or 1, max(1, len(rows)))
        pointer: dict = {"version": version, "size": len(rows)}
        if n_parts == 1:
            dests = [
                _fs.join(log, TX_FMT.format(version) + ".checkpoint.parquet")
            ]
            chunks = [rows]
        else:
            dests = [
                _fs.join(
                    log,
                    TX_FMT.format(version)
                    + f".checkpoint.{i:010d}.{n_parts:010d}.parquet",
                )
                for i in range(1, n_parts + 1)
            ]
            # striped split: every part non-empty whenever
            # len(rows) >= n_parts (replay order is irrelevant)
            chunks = [rows[i::n_parts] for i in range(n_parts)]
            pointer["parts"] = n_parts
        # write-then-move so a concurrent reader listing the log never
        # sees a torn checkpoint file under its final name
        for dest, chunk in zip(dests, chunks):
            tmp = _fs.join(log, f"_tmp_ckpt_{uuid.uuid4().hex}.parquet")
            self.fs.write_bytes(
                tmp, _actions_parquet_bytes(chunk, ACTIONS_SCHEMA)
            )
            self.fs.move(tmp, dest)
        self.fs.write_text(
            _fs.join(log, "_last_checkpoint"), json.dumps(pointer)
        )

    def _commit_protocol_upgrade(
        self,
        reader_features: tuple[str, ...] = (),
        writer_features: tuple[str, ...] = (),
    ) -> int:
        """Commit a feature-upgrade protocol action to the LOG (so JSON
        replay and checkpoint replay agree on the table protocol —
        PROTOCOL.md requires the feature to be enabled in the table
        protocol before any behavior depending on it).  Checkpointing
        is suspended for this inner commit to avoid recursion when
        ``checkpoint_interval`` is small."""
        from .delta_log import latest_protocol

        pr = upgraded_protocol(
            latest_protocol(self.path), reader_features, writer_features
        )
        self._ckpt_suspended = True
        try:
            return self._commit(
                [{"protocol": pr}], operation="UPGRADE PROTOCOL"
            )
        finally:
            self._ckpt_suspended = False

    def _write_checkpoint_v2(self, version: int) -> None:
        """V2 (manifest + sidecar) checkpoint (PROTOCOL.md "V2 Spec"):
        file actions land in ``_delta_log/_sidecars/*.parquet`` written
        DISTRIBUTED by Spark (``checkpoint_parts`` shards them — the
        shape that parallelizes a 10M-file table's checkpoint), and a
        small uuid-named manifest carries protocol/metaData/txn plus
        the sidecar references.  The ``v2Checkpoint`` table feature is
        COMMITTED to the log first (never invented inside the manifest:
        checkpoint replay and JSON replay must agree on the protocol),
        and the manifest carries the table's actual committed
        protocol."""
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from .delta_log import (
            ACTIONS_SCHEMA,
            latest_protocol,
            reconciled_action_rows,
        )

        cur = latest_protocol(self.path) or {}
        if "v2Checkpoint" not in set(
            cur.get("readerFeatures") or []
        ) or "v2Checkpoint" not in set(cur.get("writerFeatures") or []):
            version = self._commit_protocol_upgrade(
                reader_features=("v2Checkpoint",),
                writer_features=("v2Checkpoint",),
            )
        all_rows = reconciled_action_rows(self.spark, self.path, upto=version)
        log = _log_dir(self.path)
        side_dir = _fs.join(log, "_sidecars")
        self.fs.makedirs(side_dir)
        file_rows = [
            {"add": r.get("add"), "remove": r.get("remove")}
            for r in all_rows
            if r.get("add") is not None or r.get("remove") is not None
        ]
        sidecar_file_schema = StructType(
            [ACTIONS_SCHEMA["add"], ACTIONS_SCHEMA["remove"]]
        )
        n_parts = min(
            self.checkpoint_parts or 1, max(1, len(file_rows))
        )
        sidecars: list[dict] = []
        now = int(time.time() * 1000)
        for i in range(n_parts):
            # striped split: every shard non-empty when there are at
            # least n_parts file actions
            chunk = file_rows[i::n_parts]
            name = f"{uuid.uuid4()}.parquet"
            dst = _fs.join(side_dir, name)
            self.fs.write_bytes(
                dst, _actions_parquet_bytes(chunk, sidecar_file_schema)
            )
            sidecars.append(
                {
                    "path": name,
                    "sizeInBytes": self.fs.getsize(dst),
                    "modificationTime": now,
                }
            )
        non_file = [
            r
            for r in all_rows
            if r.get("metaData") is not None
            or r.get("protocol") is not None
            or r.get("txn") is not None
            or r.get("domainMetadata") is not None
        ]
        sidecar_schema = StructType(
            [
                StructField("path", StringType()),
                StructField("sizeInBytes", LongType()),
                StructField("modificationTime", LongType()),
            ]
        )
        manifest_schema = StructType(
            [
                ACTIONS_SCHEMA["metaData"],
                ACTIONS_SCHEMA["protocol"],
                ACTIONS_SCHEMA["txn"],
                # domainMetadata must survive v2 checkpointing too —
                # the row-id high-water mark lives there
                ACTIONS_SCHEMA["domainMetadata"],
                StructField("sidecar", sidecar_schema),
                StructField(
                    "checkpointMetadata",
                    StructType([StructField("version", LongType())]),
                ),
            ]
        )
        blank = {
            "metaData": None,
            "protocol": None,
            "txn": None,
            "domainMetadata": None,
            "sidecar": None,
            "checkpointMetadata": None,
        }
        rows = [
            {**blank, "checkpointMetadata": {"version": version}},
        ]
        for r in non_file:
            rows.append(
                {
                    **blank,
                    "metaData": r.get("metaData"),
                    "protocol": r.get("protocol"),
                    "txn": r.get("txn"),
                    "domainMetadata": r.get("domainMetadata"),
                }
            )
        rows.extend({**blank, "sidecar": sc} for sc in sidecars)
        manifest_name = f"{TX_FMT.format(version)}.checkpoint.{uuid.uuid4()}.parquet"
        tmp2 = _fs.join(log, f"_tmp_ckptm_{uuid.uuid4().hex}.parquet")
        self.fs.write_bytes(
            tmp2, _actions_parquet_bytes(rows, manifest_schema)
        )
        self.fs.move(tmp2, _fs.join(log, manifest_name))
        self.fs.write_text(
            _fs.join(log, "_last_checkpoint"),
            json.dumps({"version": version, "size": len(rows)}),
        )
    # -- data operations ----------------------------------------------------

    def _cluster_batch(self, df: DataFrame):
        """WRITE-TIME liquid clustering (round 8): when the table
        declares CLUSTER BY, order every fresh append along the same
        Hilbert curve OPTIMIZE uses, so per-file min/max stats prune
        BETWEEN optimize passes — a freshly-ingested, never-OPTIMIZEd
        clustered table already reads clustered.  The adds carry the
        clustering provenance tag, so the incremental OPTIMIZE leaves
        them in place (O(new data) maintenance; generations may
        overlap in key space — ``optimize(full=True)`` consolidates).

        Curve bounds = the table's per-file-stats fold (driver
        metadata, free) UNIONED with the batch's own min/max (one
        aggregate over the incoming frame — the one extra pass
        write-time clustering costs).  The union matters: monotonic
        appends (timestamps, increasing keys) land past the table's
        known range, and without batch bounds every row would clamp
        into the curve's edge cell and never separate.

        Returns (possibly re-ordered df, add tags or None)."""
        import pyspark.sql.functions as F

        from .delta_log import snapshot_files
        from .skipping import (
            bounds_from_file_stats,
            hilbert_column,
            numeric_proxy,
        )

        try:
            ccols = self._clustering_columns()
        except FileNotFoundError:
            return df, None  # table doesn't exist yet (first append)
        if not ccols or any(c not in df.columns for c in ccols):
            # no declaration, or schema drift — the schema-change
            # handling downstream owns that failure mode
            return df, None
        type_of = {f.name: f.dataType for f in df.schema.fields}
        try:
            proxies = {c: numeric_proxy(c, type_of[c]) for c in ccols}
        except ValueError:
            return df, None  # legacy non-orderable declaration
        row = df.agg(
            *[F.min(proxies[c]).alias(f"lo_{c}") for c in ccols],
            *[F.max(proxies[c]).alias(f"hi_{c}") for c in ccols],
        ).collect()[0]
        bounds: dict[str, tuple[float, float]] = {}
        for c in ccols:
            lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
            if lo is None:  # all-null / empty batch
                lo = hi = 0.0
            bounds[c] = (float(lo), float(hi))
        try:
            files = snapshot_files(self.spark, self.path)
        except FileNotFoundError:
            files = []
        if files:
            got = bounds_from_file_stats(ccols, type_of, files)
            if got is not None:
                bounds = {
                    c: (
                        min(bounds[c][0], got[c][0]),
                        max(bounds[c][1], got[c][1]),
                    )
                    for c in ccols
                }
        z = hilbert_column(ccols, bounds, df.schema)
        n = max(1, df.rdd.getNumPartitions())
        out = df.withColumn("_mlk_z", z)
        out = (
            out.repartitionByRange(n, "_mlk_z") if n > 1 else out.coalesce(1)
        )
        out = out.sortWithinPartitions("_mlk_z").drop("_mlk_z")
        return out, {"MLK_CLUSTERED_BY": ",".join(ccols)}

    def append(
        self,
        df: DataFrame,
        data_change: bool = True,
        txn: tuple[str, int] | None = None,
        extra_actions: Sequence[dict] = (),
    ) -> int:
        """Write ``df``'s rows as new parquet files + one atomic commit.

        The parquet write runs distributed; the subsequent file moves and
        the commit are driver-side metadata ops (O(new files)) — the
        Delta analogue of the reference's `.move extents` publish (K5):
        data becomes visible only at the commit point.

        ``txn=(app_id, version)`` embeds a Delta ``txn`` action in the
        same commit, making the append idempotent: a writer that crashed
        after committing discovers the fact via last_txn_version and
        does not re-append (I3 exactly-once).
        """
        df = self._apply_defaults(df)
        df = self._apply_generated(df, "WRITE")
        df = self._upcast_widened(df)
        idents = self._identity_cols()
        if idents:
            df = self._assign_identity(df, idents)
        self._pending_schema = df.schema.json()
        self._enforce_constraints(df, "WRITE")
        cluster_tags = None
        if data_change:
            df, cluster_tags = self._cluster_batch(df)
        adds = self._stage_adds(df, data_change, tags=cluster_tags)
        if idents:
            wm = self._identity_watermark_action(adds, idents)
            if wm is not None:
                adds.insert(0, wm)
                self._pending_schema = wm["metaData"]["schemaString"]
        op = "WRITE" if data_change else "WRITE (dataChange=false)"
        if txn is not None:
            adds.insert(
                0,
                {
                    "txn": {
                        "appId": txn[0],
                        "version": txn[1],
                        "lastUpdated": int(time.time() * 1000),
                    }
                },
            )
        return self._commit([*extra_actions, *adds], operation=op)

    #: memoized _current_mapping result; False = not yet computed.
    #: Invalidated by evolve_rename (the only in-process mutation) and
    #: by a lost commit race (an external writer may have changed the
    #: table's metadata)
    _mapping_cache: "dict | None | bool" = False

    #: memoized {column -> Delta JSON type} of the table's current
    #: schema, for the append-upcast check; False = not yet derived.
    #: Invalidated wherever _mapping_cache is (lost commit race, own
    #: metaData commit) — the same events that can change the schema.
    _tbl_types_cache: "dict | None | bool" = False

    def _upcast_widened(self, df: DataFrame) -> DataFrame:
        """Delta writer semantics after a type widening: input NARROWER
        than the table schema is cast up before staging, so
        ``widen_column`` doesn't strand narrow producers and — crucially
        — a narrow append can never clobber the table's wide metaData
        back down via the implicit schema-change path.  Only lossless
        widenings cast; any other mismatch flows through to the
        schema-change handling in _commit unchanged."""
        from .delta_log import is_type_widening

        if self._tbl_types_cache is False:
            from .delta_log import latest_metadata

            try:
                meta = latest_metadata(self.spark, self.path)
            except FileNotFoundError:
                meta = None
            self._tbl_types_cache = (
                None
                if meta is None
                else {
                    f["name"]: f["type"]
                    for f in json.loads(meta["schemaString"])["fields"]
                }
            )
        tbl = self._tbl_types_cache
        if not tbl:
            return df
        casts = {}
        for f in json.loads(df.schema.json())["fields"]:
            t = tbl.get(f["name"])
            if t is not None and is_type_widening(f["type"], t):
                from pyspark.sql.types import StructField

                casts[f["name"]] = StructField.fromJson(
                    {
                        "name": f["name"],
                        "type": t,
                        "nullable": True,
                        "metadata": {},
                    }
                ).dataType
        if not casts:
            return df
        import pyspark.sql.functions as F

        return df.withColumns(
            {n: F.col(n).cast(dt) for n, dt in casts.items()}
        )

    def _current_mapping(self) -> dict | None:
        """Logical -> physical names when THIS table uses column
        mapping (after evolve_rename), else None.  Memoized: the
        metadata scan is driver-side remote I/O and sat on the append
        hot path — a table that never used mapping paid a reverse log
        walk per write."""
        if self._mapping_cache is False:
            from .delta_log import column_mapping_of, latest_metadata

            try:
                self._mapping_cache = column_mapping_of(
                    latest_metadata(self.spark, self.path)
                )
            except FileNotFoundError:
                self._mapping_cache = None
        return self._mapping_cache

    def _stage_adds(
        self,
        df: DataFrame,
        data_change: bool,
        skip_empty: bool = False,
        tags: dict[str, str] | None = None,
    ) -> list[dict]:
        """Distributed parquet write to a staging dir, then O(new files)
        driver-side moves into place — returns the add actions (with
        full stats) for the caller's commit.  Shared by append() (which
        keeps zero-row parts: empty adds are a legitimate log shape the
        mirror must handle, O4) and merge()'s not-matched-insert path
        (which skips them).

        On a column-mapped table (post-``evolve_rename``) the data
        files must carry PHYSICAL column names (PROTOCOL.md "Column
        Mapping": add.partitionValues keys, directory names, and file
        stats are all physical) — the logical frame is renamed right
        before the write, so partition dirs and stats come out physical
        for free."""
        import pyspark.sql.functions as F

        mapping = self._current_mapping()
        part_by = self.partition_by
        if mapping:
            df = df.select(
                *[df[c].alias(mapping.get(c, c)) for c in df.columns]
            )
            part_by = [mapping.get(c, c) for c in self.partition_by]
        tmp = _fs.join(self.path, f"_staging_{uuid.uuid4().hex}")
        writer = df.write
        if part_by:
            writer = writer.partitionBy(*part_by)
        writer.parquet(tmp)

        # NOTE (r13, measured): the commit-assembly tail below (footer
        # read + rename per file) was suspected as the per-commit
        # floor's next lever and rebuilt with a 16-thread pool — the
        # pool measured 14x SLOWER on this page-cached local FS
        # (footer reads are ~46 µs serial and do not release the GIL
        # long enough to overlap; 1024 files: 0.047 s serial vs
        # 0.64 s pooled), and the whole serial tail is ~1.5 % of a
        # 1024-file commit (0.07 s of 4.5 s — the write JOB is the
        # floor).  Reverted; see tools/probe_commit_floor.py and
        # OPTIMIZATION_r13.md.  On an object store (ms-latency
        # round trips) a pool would win — revisit only with such a
        # backend to measure against.
        adds: list[dict] = []
        counts: dict[str, int] | None = None
        for dirpath, _dirs, files in self.fs.walk(tmp):
            rel_dir = dirpath[len(tmp):].strip("/") or "."
            part_values = (
                hive_partition_values(rel_dir) if rel_dir != "." else {}
            )
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                src = _fs.join(dirpath, name)
                footer = _safe_parquet_meta(src)
                if footer is None:
                    if counts is None:
                        counts = _spark_row_counts(self.spark, tmp)
                    nrows = counts.get(self.fs.normalize(src), 0)
                    stats = json.dumps({"numRecords": nrows})
                else:
                    nrows = footer.num_rows
                    stats = file_stats_json(footer)
                if skip_empty and nrows == 0:
                    continue
                new_name = f"part-{uuid.uuid4().hex}.snappy.parquet"
                rel = f"{rel_dir}/{new_name}" if rel_dir != "." else new_name
                dst = _fs.join(self.path, rel)
                self.fs.makedirs(dst.rsplit("/", 1)[0])
                self.fs.move(src, dst)
                add = {
                    "path": rel,
                    "partitionValues": part_values,
                    "size": self.fs.getsize(dst),
                    "modificationTime": int(time.time() * 1000),
                    "dataChange": data_change,
                    "stats": stats,
                }
                if tags:
                    add["tags"] = dict(tags)
                adds.append({"add": add})
        self.fs.rmtree(tmp)
        return adds

    def add_constraint(self, name: str, expr: str) -> int:
        """ADD CONSTRAINT (PROTOCOL.md "CHECK Constraints"): record
        ``delta.constraints.<name> = <expr>`` in the table metadata and
        commit the ``checkConstraints`` writer feature.  Every
        subsequent append/merge enforces the predicate and refuses the
        whole commit on any violating row (writers that cannot enforce
        must not write — hence the feature gate).  The expression must
        already hold on the CURRENT rows (Delta's own ADD CONSTRAINT
        validates existing data)."""
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"constraint name must be a bare word: {name!r}")
        from .delta_log import read_snapshot

        try:
            current = read_snapshot(self.spark, self.path)
        except FileNotFoundError:
            current = None
        if current is not None:
            bad = current.filter(f"NOT coalesce(({expr}), false)").limit(1)
            rows = bad.collect()
            if rows:
                raise ValueError(
                    f"cannot add constraint {name}: existing row "
                    f"violates ({expr}): {rows[0].asDict()}"
                )
        self._commit_protocol_upgrade(
            writer_features=("checkConstraints",)
        )
        return self.set_properties({f"delta.constraints.{name}": expr})

    def drop_constraint(self, name: str) -> int:
        """DROP CONSTRAINT: unset the property (the writer feature
        stays — features are never removed from a protocol)."""
        return self.set_properties({}, unset=(f"delta.constraints.{name}",))

    def _constraints(self) -> dict[str, str]:
        from .delta_log import latest_metadata

        try:
            meta = latest_metadata(self.spark, self.path)
        except FileNotFoundError:
            return {}
        conf = (meta or {}).get("configuration") or {}
        pfx = "delta.constraints."
        return {
            k[len(pfx):]: v for k, v in conf.items() if k.startswith(pfx)
        }

    def _enforce_constraints(self, df: DataFrame, op: str) -> None:
        """Refuse the write when any row violates a CHECK constraint —
        one ``limit(1)`` probe per constraint, only when constraints
        exist (zero cost on the common path).  NULL predicate results
        count as violations (Delta's CHECK semantics: the constraint
        must evaluate to true)."""
        for name, expr in self._constraints().items():
            rows = df.filter(f"NOT coalesce(({expr}), false)").limit(1).collect()
            if rows:
                raise ValueError(
                    f"{op} violates CHECK constraint {name} ({expr}): "
                    f"{rows[0].asDict()}"
                )

    def add_identity_column(
        self, name: str, start: int = 1, step: int = 1
    ) -> int:
        """ADD an IDENTITY column (PROTOCOL.md "Identity Columns"):
        append a BIGINT field whose ``delta.identity.start`` / ``step``
        / ``allowExplicitInsert: false`` metadata makes every
        subsequent append assign system-generated values.  Existing
        files read NULL for it (like generated columns, assignment is
        a write-time behavior).

        Assignment is pure JVM and shuffle-free: value = watermark +
        step * (1 + partition_id + local_row_index * 65536), derived
        from ``monotonically_increasing_id``'s (partition, index)
        encoding — unique by construction, MONOTONIC per Delta's
        contract, and gap-tolerant exactly as Delta documents
        ("identity values are not guaranteed contiguous").  The high
        water mark advances to the true MAX of each batch (read from
        the add-file stats, falling back to one max() scan), recorded
        as ``delta.identity.highWaterMark`` field metadata in the SAME
        commit as the data — crash-safe like everything else here."""
        if step == 0:
            raise ValueError("identity step must be non-zero")
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"column name must be a bare word: {name!r}")
        from .delta_log import latest_metadata

        meta = latest_metadata(self.spark, self.path)
        if meta is None:
            raise ValueError(f"{self.path}: no table metadata yet")
        parsed = json.loads(meta["schemaString"])
        if name in {f["name"] for f in parsed["fields"]}:
            raise ValueError(f"column {name!r} already exists")
        self._commit_protocol_upgrade(
            writer_features=("identityColumns",)
        )
        field = {
            "name": name,
            "type": "long",
            "nullable": True,
            "metadata": {
                "delta.identity.start": start,
                "delta.identity.step": step,
                "delta.identity.allowExplicitInsert": False,
            },
        }
        new_schema = json.dumps(
            {**parsed, "fields": parsed["fields"] + [field]}
        )
        self._pending_schema = new_schema
        return self._commit(
            [{"metaData": {**meta, "schemaString": new_schema}}],
            operation="ADD COLUMNS (identity)",
        )

    #: memoized _identity_cols result; None = not yet derived.  Same
    #: invalidation discipline as _mapping_cache/_ict_cache — the
    #: lookup otherwise costs a driver-side log walk per append.
    _ident_cache: "dict | None" = None

    def _identity_cols(self) -> dict[str, dict]:
        """name -> {start, step, highWaterMark?} from field metadata."""
        if self._ident_cache is not None:
            return self._ident_cache
        from .delta_log import latest_metadata

        try:
            meta = latest_metadata(self.spark, self.path)
        except FileNotFoundError:
            self._ident_cache = {}
            return {}
        if meta is None:
            self._ident_cache = {}
            return {}
        out = {}
        for f in json.loads(meta["schemaString"])["fields"]:
            md = f.get("metadata") or {}
            if "delta.identity.start" in md:
                out[f["name"]] = {
                    "start": int(md["delta.identity.start"]),
                    "step": int(md["delta.identity.step"]),
                    "hwm": md.get("delta.identity.highWaterMark"),
                    "allow": bool(
                        md.get("delta.identity.allowExplicitInsert")
                    ),
                }
        self._ident_cache = out
        return out

    def _assign_identity(self, df: DataFrame, idents: dict) -> DataFrame:
        """Assign values for every identity column absent from ``df``
        (present + allowExplicitInsert=false refuses, Delta's GENERATED
        ALWAYS contract).  Dense interleave, delta-spark's own scheme:
        k = 1 + partition_id + local_row_index * numPartitions — unique
        because partition_id < numPartitions, and nearly gap-free.  The
        planned partition count is pinned from the frame; should a
        runtime re-plan ever yield MORE partitions, the guard raises
        instead of silently colliding.  Pure JVM, shuffle-free."""
        nparts = max(df.rdd.getNumPartitions(), 1)
        mid = F.monotonically_increasing_id()
        pid = F.shiftright(mid, 33)
        idx = mid.bitwiseAND(F.lit((1 << 33) - 1))
        for name, info in idents.items():
            if name in df.columns:
                if not info["allow"]:
                    raise ValueError(
                        f"identity column {name!r} is GENERATED ALWAYS "
                        "— remove it from the input frame"
                    )
                continue
            base = (
                int(info["hwm"])
                if info["hwm"] is not None
                else info["start"] - info["step"]
            )
            k = F.lit(1) + pid + idx * F.lit(nparts)
            value = F.lit(base) + F.lit(info["step"]) * k
            guarded = F.when(pid < F.lit(nparts), value).otherwise(
                F.expr(
                    "raise_error('identity assignment planned "
                    f"{nparts} partitions but saw more at runtime — "
                    "re-run the write')"
                )
            )
            df = df.withColumn(name, guarded.cast("long"))
        return df

    def _identity_watermark_action(
        self, adds: list[dict], idents: dict
    ) -> dict | None:
        """New metaData action advancing each identity column's
        highWaterMark to the batch's true MAX (from the add stats;
        one max() scan over the new files when a stats entry is
        missing).  None when nothing advanced."""
        from .delta_log import latest_metadata

        new_hwm: dict[str, int] = {}
        mapping = self._current_mapping() or {}
        for name, info in idents.items():
            # stats keys (and the fallback scan's columns) are
            # PHYSICAL on a column-mapped table
            pname = mapping.get(name, name)
            vals = []
            missing = []
            stat_key = "maxValues" if info["step"] > 0 else "minValues"
            for a in adds:
                add = a.get("add")
                if add is None:
                    continue
                st = json.loads(add.get("stats") or "{}")
                v = (st.get(stat_key) or {}).get(pname)
                if v is None:
                    if st.get("numRecords", 1):
                        missing.append(add["path"])
                else:
                    vals.append(int(v))
            if missing:
                scan = self.spark.read.parquet(
                    *[_fs.join(self.path, p) for p in missing]
                )
                agg = F.max(pname) if info["step"] > 0 else F.min(pname)
                row = scan.agg(agg).collect()[0]
                if row[0] is not None:
                    vals.append(int(row[0]))
            if not vals:
                continue
            # the water mark is the extreme in the STEP's direction
            # (a negative step descends: its mark is the minimum)
            batch_max = max(vals) if info["step"] > 0 else min(vals)
            prev = (
                int(info["hwm"])
                if info["hwm"] is not None
                else info["start"] - info["step"]
            )
            if (info["step"] > 0 and batch_max > prev) or (
                info["step"] < 0 and batch_max < prev
            ):
                new_hwm[name] = batch_max
        if not new_hwm:
            return None
        meta = latest_metadata(self.spark, self.path)
        parsed = json.loads(meta["schemaString"])
        for f in parsed["fields"]:
            if f["name"] in new_hwm:
                f["metadata"] = {
                    **(f.get("metadata") or {}),
                    "delta.identity.highWaterMark": new_hwm[f["name"]],
                }
        return {"metaData": {**meta, "schemaString": json.dumps(parsed)}}

    def add_generated_column(
        self, name: str, sql_type: str, expr: str
    ) -> int:
        """ADD a generated column (PROTOCOL.md "Generated Columns"):
        append a field whose ``delta.generationExpression`` metadata
        records the expression, and commit the ``generatedColumns``
        writer feature.  Existing files read NULL for the column
        (generation applies at write time, Delta's own semantics);
        subsequent appends/merges compute it when absent from the
        input and validate it (null-safe equality) when present.

        Generated partition columns are the headline use: a ``day``
        column generated from an event timestamp gives storage-layer
        partition pruning without trusting every writer to derive it
        consistently."""
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"column name must be a bare word: {name!r}")
        from .delta_log import latest_metadata

        meta = latest_metadata(self.spark, self.path)
        if meta is None:
            raise ValueError(f"{self.path}: no table metadata yet")
        parsed = json.loads(meta["schemaString"])
        if name in {f["name"] for f in parsed["fields"]}:
            raise ValueError(f"column {name!r} already exists")
        self._commit_protocol_upgrade(
            writer_features=("generatedColumns",)
        )
        field = {
            "name": name,
            "type": sql_type,
            "nullable": True,
            "metadata": {"delta.generationExpression": expr},
        }
        new_schema = json.dumps(
            {**parsed, "fields": parsed["fields"] + [field]}
        )
        self._pending_schema = new_schema
        return self._commit(
            [{"metaData": {**meta, "schemaString": new_schema}}],
            operation="ADD COLUMNS (generated)",
        )

    def set_column_default(self, column: str, sql_expr: str) -> int:
        """ALTER COLUMN ... SET DEFAULT (PROTOCOL.md "Default
        Columns", writer feature ``allowColumnDefaults``): the
        expression lands in the field's ``CURRENT_DEFAULT`` metadata,
        and an append whose frame OMITS the column gets the default
        evaluated per row (an explicitly supplied value always wins —
        defaults are a writer-side fill, never validation).  Writer-
        only feature: readers see ordinary data, so the reader version
        stays put.  Existing rows are untouched (Delta's own
        semantics: SET DEFAULT affects future writes only)."""
        from .delta_log import latest_metadata

        meta = latest_metadata(self.spark, self.path)
        if meta is None:
            raise ValueError(f"no Delta table at {self.path}")
        parsed = json.loads(meta["schemaString"])
        field = next(
            (f for f in parsed["fields"] if f["name"] == column), None
        )
        if field is None:
            raise ValueError(f"no such column: {column!r}")
        # fail at DECLARATION if the expression doesn't evaluate or
        # can't cast to the column's type — not at every later append.
        # The null-check (not just the cast) makes this independent of
        # spark.sql.ansi.enabled: with ANSI off a bad cast returns
        # NULL instead of raising, which would otherwise defer the
        # failure to silent NULL fills on every later append
        from ..schema import delta_type_to_spark

        tname = delta_type_to_spark(field["type"]).simpleString()
        probe = self.spark.sql(
            f"SELECT ({sql_expr}) AS v, "
            f"TRY_CAST(({sql_expr}) AS {tname}) AS c"
        ).collect()[0]
        if probe.v is not None and probe.c is None:
            raise ValueError(
                f"default ({sql_expr}) does not cast to {column}'s "
                f"type {tname}"
            )
        self._commit_protocol_upgrade(
            writer_features=("allowColumnDefaults",)
        )
        field.setdefault("metadata", {})["CURRENT_DEFAULT"] = sql_expr
        new_schema = json.dumps(parsed)
        self._pending_schema = new_schema
        self._tbl_types_cache = False
        return self._commit(
            [{"metaData": {**meta, "schemaString": new_schema}}],
            operation=f"ALTER COLUMN (set default {column})",
        )

    def drop_column_default(self, column: str) -> int:
        """ALTER COLUMN ... DROP DEFAULT: removes ``CURRENT_DEFAULT``
        from the field metadata (the feature stays in the protocol —
        Delta features are never retracted by ordinary DDL)."""
        from .delta_log import latest_metadata

        meta = latest_metadata(self.spark, self.path)
        if meta is None:
            raise ValueError(f"no Delta table at {self.path}")
        parsed = json.loads(meta["schemaString"])
        field = next(
            (f for f in parsed["fields"] if f["name"] == column), None
        )
        if field is None or "CURRENT_DEFAULT" not in (
            field.get("metadata") or {}
        ):
            raise ValueError(f"no default on column: {column!r}")
        del field["metadata"]["CURRENT_DEFAULT"]
        new_schema = json.dumps(parsed)
        self._pending_schema = new_schema
        return self._commit(
            [{"metaData": {**meta, "schemaString": new_schema}}],
            operation=f"ALTER COLUMN (drop default {column})",
        )

    def _defaults(self) -> dict[str, tuple[str, str]]:
        """name -> (default expression, Delta type) from field
        metadata ``CURRENT_DEFAULT``."""
        fields = self._default_fields()
        return {
            f["name"]: (f["metadata"]["CURRENT_DEFAULT"], f["type"])
            for f in fields
            if (f.get("metadata") or {}).get("CURRENT_DEFAULT")
        }

    #: memoized table-schema field dicts for the defaults fill;
    #: False = not yet derived.  Invalidated with _tbl_types_cache
    #: (lost commit race, own metaData commits) — the same events
    #: that can change the schema.
    _fields_cache: "list | bool" = False

    def _default_fields(self) -> list[dict]:
        """The table schema's field dicts (one memoized driver-side
        metadata read, shared by the defaults fill and its
        column-order fix) — the append hot path must not pay a
        remote log scan per write for a feature the table may not
        even use (same rationale as _current_mapping)."""
        if self._fields_cache is False:
            from .delta_log import latest_metadata

            try:
                meta = latest_metadata(self.spark, self.path)
            except FileNotFoundError:
                meta = None
            self._fields_cache = (
                []
                if meta is None
                else json.loads(meta["schemaString"])["fields"]
            )
        return self._fields_cache

    def _apply_defaults(self, df: DataFrame) -> DataFrame:
        """Fill columns ABSENT from the frame with their declared
        default (cast to the column's table type); supplied values —
        including explicit NULLs — always win.  Runs before generated-
        column handling so a generation expression may reference a
        defaulted column.  ONE metadata read, and none of this touches
        the plan when the table declares no defaults."""
        import pyspark.sql.functions as F

        from ..schema import delta_type_to_spark

        defaults = self._defaults()
        missing = [n for n in defaults if n not in df.columns]
        if not missing:
            return df
        df = df.withColumns(
            {
                n: F.expr(defaults[n][0]).cast(
                    delta_type_to_spark(defaults[n][1])
                )
                for n in missing
            }
        )
        # keep the table's declared column order where possible, so a
        # defaults-filled append doesn't reorder the metaData schema
        order = [f["name"] for f in self._default_fields()]
        if set(order) == set(df.columns):
            df = df.select(*order)
        return df

    def _generated(self) -> dict[str, str]:
        """name -> generation expression, from schema field metadata."""
        from .delta_log import latest_metadata

        try:
            meta = latest_metadata(self.spark, self.path)
        except FileNotFoundError:
            return {}
        if meta is None:
            return {}
        return {
            f["name"]: f["metadata"]["delta.generationExpression"]
            for f in json.loads(meta["schemaString"])["fields"]
            if (f.get("metadata") or {}).get("delta.generationExpression")
        }

    def _apply_generated(self, df: DataFrame, op: str) -> DataFrame:
        """Compute absent generated columns; validate present ones
        (null-safe equality, limit-1 probe) — a writer supplying a
        value that disagrees with the generation expression must fail,
        not silently diverge (the generatedColumns feature contract)."""
        import pyspark.sql.functions as F

        for name, expr in self._generated().items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
                continue
            rows = (
                df.filter(f"NOT coalesce(({name}) <=> ({expr}), false)")
                .limit(1)
                .collect()
            )
            if rows:
                raise ValueError(
                    f"{op} violates generated column {name} = ({expr}): "
                    f"{rows[0].asDict()}"
                )
        return df

    def _cdf_enabled(self) -> bool:
        """True when the table property ``delta.enableChangeDataFeed``
        is set — the DML paths then also stage row-level change files
        (PROTOCOL.md "Add CDC File")."""
        from .delta_log import latest_metadata

        try:
            meta = latest_metadata(self.spark, self.path)
        except FileNotFoundError:
            return False
        conf = (meta or {}).get("configuration") or {}
        return (
            str(conf.get("delta.enableChangeDataFeed", "")).lower()
            == "true"
        )

    def _scan(self, files, meta, row_ids=False, **kw) -> DataFrame:
        """The table's ``files`` as logical rows through
        :func:`delta_log.read_files` (``kw`` passes through).
        ``row_ids`` fills the row-tracking MATERIALIZED columns (the
        configured physical names) with every row's id / commit version
        — what a rewrite must carry so row identities survive it
        (PROTOCOL.md "Row Tracking"); a no-op unless the table tracks
        rows with materialized columns."""
        from .delta_log import read_files

        mat_id, mat_rcv = (
            self._rt_mat_cols()
            if row_ids and self._rt_enabled()
            else (None, None)
        )
        df = read_files(
            self.spark, self.path, files, meta, row_ids=bool(mat_id), **kw
        )
        if not mat_id:
            return df
        df = df.withColumnRenamed("_row_id", mat_id)
        if mat_rcv:
            return df.withColumnRenamed("_row_commit_version", mat_rcv)
        return df.drop("_row_commit_version")

    def _dv_probe(self, files, meta, row_ids=False) -> DataFrame:
        """Merge-on-read DML probe: every PHYSICAL row of ``files`` with
        its position (``_f``, ``_ridx``).  Existing deletion vectors are
        NOT applied here — the caller anti-joins ``_old_dv_pairs``,
        which past ``_DV_DISTRIBUTED_FILES`` fetches payloads on the
        executors instead of the driver."""
        return self._scan(
            files, meta, row_ids=row_ids, identity=True,
            deletion_vectors=False,
        ).withColumnsRenamed({"__mlk_file": "_f", "__mlk_ridx": "_ridx"})

    def _hit_files(self, files, meta, match) -> list[dict]:
        """The ``files`` holding a row that ``match(probe)`` keeps: ONE
        probe scan over all of them (data predicates push down to
        parquet), only the matching files' identities collected."""
        if not files:
            return []
        probe = self._scan(files, meta, identity=True)
        hit = {
            r[0]
            for r in match(probe).select("__mlk_file").distinct().collect()
        }
        return [
            f
            for f in files
            if _fs.data_path_spelling(self.path, f["path"]) in hit
        ]

    def _concurrent_stage(self, thunks):
        """Run independent staging jobs — each its own Spark action plus
        driver-side file moves — CONCURRENTLY, returning their action
        lists in the thunks' order (deterministic commit assembly).

        Spark's scheduler happily overlaps jobs; they are sequential
        only because driver code awaits them one at a time (guide
        §2.6).  Inside one DML commit the per-partition-group rewrites,
        the insert staging, and the CDC staging share no state (each
        writes to its own uuid staging dir; the fs layer is
        lock-protected), so the next job's tasks back-fill executors
        freed by the previous job's tail — on the 100 TB posture the
        tail of a skewed rewrite no longer serializes the whole
        commit's staging.  2-3 jobs in flight is enough to fill the
        tail without fighting for executors."""
        if len(thunks) <= 1:
            return [t() for t in thunks]
        from concurrent.futures import (
            FIRST_EXCEPTION,
            ThreadPoolExecutor,
            wait,
        )

        # memoize the mapping once before the race (double-compute is
        # benign but wasteful)
        self._current_mapping()
        # fail fast: when one staging job raises, queued siblings are
        # skipped (running ones finish at pool exit — threads cannot
        # be killed) instead of the whole fan running to completion
        # before the failure propagates (r12 ADVICE).  future.cancel()
        # alone is racy — a freed worker dequeues the next thunk
        # before the waiter can cancel it — so each thunk re-checks a
        # shared flag at dequeue time.
        fail_flag = threading.Event()

        def _guarded(t):
            def run():
                if fail_flag.is_set():
                    return None  # skipped: a sibling already failed
                try:
                    return t()
                except BaseException:
                    fail_flag.set()
                    raise

            return run

        with ThreadPoolExecutor(max_workers=min(len(thunks), 3)) as pool:
            futures = [pool.submit(_guarded(t)) for t in thunks]
            done, not_done = wait(futures, return_when=FIRST_EXCEPTION)
            if any(f.exception() is not None for f in done):
                for f in not_done:
                    f.cancel()
        failed = next(
            (
                f
                for f in futures
                if not f.cancelled() and f.exception() is not None
            ),
            None,
        )
        if failed is not None:
            # best-effort: unstage the completed siblings' files —
            # they were already moved into the table dir and the
            # failed commit will never reference them (only add/cdc
            # actions name NEW files; removes point at existing ones)
            for f in futures:
                if f is failed or f.cancelled() or f.exception() is not None:
                    continue
                for act in f.result() or []:
                    rel = (act.get("add") or act.get("cdc") or {}).get(
                        "path"
                    )
                    if rel:
                        try:
                            self.fs.remove(_fs.join(self.path, rel))
                        except OSError:
                            pass
            raise failed.exception()
        return [f.result() for f in futures]

    def _stage_cdc(self, df: DataFrame) -> list[dict]:
        """Stage change-data files (df = full logical rows incl.
        partition columns + ``_change_type``) under ``_change_data/``
        and return the ``cdc`` actions.  Layout mirrors the data files:
        partition columns become directories (and partitionValues),
        rows carry only the data columns + ``_change_type``.  cdc
        actions always record ``dataChange: false`` (PROTOCOL.md) and
        are never checkpointed (reconciled_actions rebuilds from
        adds only).  On a column-mapped table the change files carry
        PHYSICAL data-column names like the data files (PROTOCOL.md
        "Change Data Files" store their columns exactly as data files
        do); ``_change_type`` is a literal spec column and stays."""
        mapping = self._current_mapping()
        if mapping:
            df = df.select(
                *[df[c].alias(mapping.get(c, c)) for c in df.columns]
            )
        tmp = _fs.join(self.path, f"_staging_{uuid.uuid4().hex}")
        writer = df.write
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(tmp)
        actions: list[dict] = []
        counts: dict[str, int] | None = None
        for dirpath, _dirs, files in self.fs.walk(tmp):
            rel_dir = dirpath[len(tmp):].strip("/") or "."
            part_values = (
                hive_partition_values(rel_dir) if rel_dir != "." else {}
            )
            for name in files:
                if not name.endswith(".parquet"):
                    continue
                src = _fs.join(dirpath, name)
                footer = _safe_parquet_meta(src)
                if footer is None:
                    if counts is None:
                        counts = _spark_row_counts(self.spark, tmp)
                    if counts.get(self.fs.normalize(src), 0) == 0:
                        continue
                elif footer.num_rows == 0:
                    continue
                new_name = f"cdc-{uuid.uuid4().hex}.snappy.parquet"
                rel = (
                    f"_change_data/{rel_dir}/{new_name}"
                    if rel_dir != "."
                    else f"_change_data/{new_name}"
                )
                dst = _fs.join(self.path, rel)
                self.fs.makedirs(dst.rsplit("/", 1)[0])
                self.fs.move(src, dst)
                actions.append(
                    {
                        "cdc": {
                            "path": rel,
                            "partitionValues": part_values,
                            "size": self.fs.getsize(dst),
                            "dataChange": False,
                        }
                    }
                )
        self.fs.rmtree(tmp)
        return actions

    def _rewrite_group(
        self,
        files: list[dict],
        meta: dict,
        transform,
        data_change: bool,
        now: int,
        tags: dict[str, str] | None = None,
    ) -> list[dict]:
        """Rewrite one partition group's ``files`` through ``transform``:
        emit removes for the old files and adds for the rewritten ones.
        ``transform`` sees the group's LOGICAL rows (partition columns
        included, deletion vectors applied); partition columns stay OUT
        of the written files (injected at read, A7/O6).

        Under row tracking, the rows' ids are MATERIALIZED into the
        rewritten files (the configured physical columns) before the
        transform runs — a rewrite must preserve row identities
        (PROTOCOL.md "Row Tracking"); the re-added files get fresh
        baseRowIds but every surviving row's materialized id wins on
        read."""
        from .delta_log import partition_subdir

        part_values = files[0]["partitionValues"] or {}
        paths = [f["path"] for f in files]
        mapping = self._current_mapping()
        out = transform(self._scan(files, meta, row_ids=True)).drop(
            *(meta.get("partitionColumns") or [])
        )
        if mapping:
            # the rewritten files must carry PHYSICAL names again so
            # stats/readers line up (same rule as _stage_adds)
            out = out.select(
                *[out[c].alias(mapping.get(c, c)) for c in out.columns]
            )
        tmp = _fs.join(self.path, f"_staging_{uuid.uuid4().hex}")
        out.write.parquet(tmp)
        actions: list[dict] = [
            {
                "remove": {
                    "path": rel,
                    "deletionTimestamp": now,
                    "dataChange": data_change,
                    "partitionValues": part_values,
                }
            }
            for rel in paths
        ]
        subdir = partition_subdir(part_values)
        counts: dict[str, int] | None = None
        for name in self.fs.listdir(tmp):
            if not name.endswith(".parquet"):
                continue
            src = _fs.join(tmp, name)
            footer = _safe_parquet_meta(src)
            if footer is None:
                if counts is None:
                    counts = _spark_row_counts(self.spark, tmp)
                if counts.get(self.fs.normalize(src), 0) == 0:
                    continue
            elif footer.num_rows == 0:
                continue
            new_name = f"part-{uuid.uuid4().hex}.snappy.parquet"
            rel = f"{subdir}/{new_name}" if subdir else new_name
            dst = _fs.join(self.path, rel)
            self.fs.makedirs(dst.rsplit("/", 1)[0])
            self.fs.move(src, dst)
            add = {
                "path": rel,
                "partitionValues": part_values,
                "size": self.fs.getsize(dst),
                "modificationTime": now,
                "dataChange": data_change,
                "stats": file_stats_json(footer)
                if footer is not None
                else json.dumps(
                    {
                        "numRecords": counts.get(
                            self.fs.normalize(src), 0
                        )
                    }
                ),
            }
            if tags:
                add["tags"] = dict(tags)
            actions.append({"add": add})
        self.fs.rmtree(tmp)
        return actions

    def _require_no_dvs(self, op: str, files: list[dict]) -> None:
        """Copy-on-write rewrites of a table with deletion vectors
        refuse until ``reorg()`` materializes them (Delta's own REORG
        TABLE ... APPLY (PURGE) prerequisite)."""
        dvs = [
            f
            for f in files
            if (f.get("deletionVector") or {}).get("cardinality")
        ]
        if dvs:
            raise ValueError(
                f"{op} on a table with deletion vectors "
                f"({len(dvs)} file(s)) would resurrect deleted rows — "
                "run reorg() first to materialize them"
            )

    def _data_schema(self):
        """(metadata, partition-col types, data-col StructType) from ONE
        driver-side metadata read — ``(None, {}, None)`` for a table
        with no commits yet.  The StructType is LOGICAL; every data read
        goes through :func:`delta_log.read_files`, which respells a
        column-mapped table's files.  Mapped AND partitioned stays loud
        for the WRITE side: ``_stage_adds``, ``_stage_cdc`` and
        ``_rewrite_group`` name partition directories and
        ``add.partitionValues`` after the frame's logical columns,
        while a column-mapped table keys them by physical name."""
        from .delta_log import (
            UnsupportedTableFeature,
            column_mapping_of,
            latest_metadata as _lm,
        )

        from pyspark.sql.types import StructType as _St

        meta = _lm(self.spark, self.path)
        if meta is None:
            return None, {}, None
        if column_mapping_of(meta) is not None and (
            meta.get("partitionColumns") or []
        ):
            raise UnsupportedTableFeature(
                f"table {self.path} uses Delta column mapping AND "
                "partitioning; DeltaSink rewrite operations support "
                "mapping on unpartitioned tables only (reads work via "
                "delta_log.read_snapshot)"
            )
        schema = _St.fromJson(json.loads(meta["schemaString"]))
        part_cols = set(meta.get("partitionColumns") or [])
        types = {f.name: f.dataType for f in schema.fields if f.name in part_cols}
        return (
            meta,
            types,
            _St([f for f in schema.fields if f.name not in part_cols]),
        )

    def delete(self, predicate: str) -> int:
        """Row-level delete: rewrite only the FILES that contain matching
        rows — K6's `.delete table records` as copy-on-write.

        One probe scan over the snapshot (files first pruned by their
        stats/partition values, data predicates pushed down to parquet)
        finds the affected files; each partition group of them is then
        rewritten without its matching rows.  All rewrites land in ONE
        atomic commit.  At scale this is two jobs total — probe +
        rewrite — not one probe per partition."""
        import pyspark.sql.functions as F

        from .delta_log import prune_by_predicate, snapshot_files

        now = int(time.time() * 1000)
        cdf = self._cdf_enabled()
        meta, _types, _data_schema = self._data_schema()
        files = snapshot_files(self.spark, self.path)
        self._require_no_dvs("DELETE", files)
        files = prune_by_predicate(self.path, files, meta, predicate)
        hit = self._hit_files(files, meta, lambda df: df.filter(predicate))
        thunks = [
            lambda g=g: self._rewrite_group(
                g,
                meta,
                lambda df: df.filter(f"NOT ({predicate})"),
                data_change=True,
                now=now,
            )
            for g in _by_partition(hit)
        ]
        if cdf and hit:
            # row-level change feed: the DELETED rows, so readers see
            # exact deletes instead of the file-level remove+re-add
            # synthesis.  Scans only the HIT files (every matching row
            # lives in one by construction) — not a second whole-table
            # probe
            deleted = self._scan(hit, meta).filter(predicate)
            thunks.append(
                lambda: self._stage_cdc(
                    deleted.withColumn("_change_type", F.lit("delete"))
                )
            )
        actions = [a for acts in self._concurrent_stage(thunks) for a in acts]
        return self._commit(actions, operation="DELETE")

    def _check_update_assignments(
        self, assignments: dict[str, str], types, data_schema, gen
    ) -> None:
        """Shared UPDATE validation (copy-on-write and merge-on-read):
        no partition-column assignment (rows would move across
        partitions), no direct generated-column assignment, no unknown
        columns, and no assignment a generated PARTITION column
        depends on."""
        data_cols = (
            {f.name for f in data_schema.fields}
            if data_schema is not None
            else set()
        )
        for c in assignments:
            if c in self.partition_by or c in (types or {}):
                raise ValueError(
                    f"UPDATE cannot assign partition column {c!r} "
                    "(rows would move across partitions); delete + "
                    "re-append instead"
                )
            if c in gen:
                raise ValueError(
                    f"column {c!r} is generated ({gen[c]}); assign its "
                    "source columns and it recomputes"
                )
            if data_cols and c not in data_cols:
                raise ValueError(f"unknown column {c!r}")
        for name, gexpr in gen.items():
            if name in (types or {}) and any(
                re.search(rf"\b{re.escape(c)}\b", gexpr)
                for c in assignments
            ):
                raise ValueError(
                    f"generated PARTITION column {name} = ({gexpr}) "
                    "depends on an assigned column; its rows would "
                    "move across partitions"
                )

    def update(self, predicate: str, assignments: dict[str, str]) -> int:
        """UPDATE ... SET — Delta's copy-on-write UPDATE: rewrite only
        the FILES containing matching rows, applying every assignment
        to the matching rows (all right-hand sides see the PRE-update
        row, SQL semantics) and leaving the rest byte-stable.

        - generated columns recompute from the new values and may not
          be assigned directly (the generatedColumns contract);
        - CHECK constraints re-validate the updated rows BEFORE any
          file is rewritten;
        - partition columns may not be assigned (a value change would
          move rows across partition directories — Delta's UPDATE
          rewrites those too; this engine refuses loudly instead);
        - under CDF the commit stages update_preimage /
          update_postimage row pairs (Delta's UPDATE change types);
        - under row tracking the rewrite preserves each row's id and
          RESETS the materialized commit version of updated rows, so
          their _row_commit_version reads as the UPDATE's commit (the
          new add's defaultRowCommitVersion) — PROTOCOL.md Row
          Tracking's UPDATE semantics.

        The reference never updates in place (K6 is delete-only,
        DeltaTableOrchestration.cs:85-133); this is standalone-engine
        surface past that parity point.  For the merge-on-read shape
        (DV the old rows, append only the new) see :meth:`update_dv`."""
        import pyspark.sql.functions as F

        from .delta_log import prune_by_predicate, snapshot_files

        now = int(time.time() * 1000)
        cdf = self._cdf_enabled()
        meta, types, data_schema = self._data_schema()
        gen = self._generated()
        self._check_update_assignments(assignments, types, data_schema, gen)
        files = snapshot_files(self.spark, self.path)
        self._require_no_dvs("UPDATE", files)
        files = prune_by_predicate(self.path, files, meta, predicate)

        def apply_set(df):
            """Hit rows get the new values; __mlk_hit is computed from
            PRE-update values once so the predicate and the generated
            recompute never observe half-updated rows."""
            df = df.withColumn("__mlk_hit", F.expr(f"({predicate})"))
            hit = F.coalesce(F.col("__mlk_hit"), F.lit(False))
            df = df.withColumns(
                {
                    c: F.when(hit, F.expr(e)).otherwise(F.col(c))
                    for c, e in assignments.items()
                }
            )
            regen = {
                name: F.when(hit, F.expr(gexpr)).otherwise(F.col(name))
                for name, gexpr in gen.items()
                if name not in (types or {}) and name in df.columns
            }
            if regen:
                df = df.withColumns(regen)
            return df

        hit = self._hit_files(files, meta, lambda df: df.filter(predicate))
        if not hit:
            return self._commit([], operation="UPDATE")
        hit_rows = self._scan(hit, meta)
        updated = apply_set(hit_rows).filter("__mlk_hit").drop("__mlk_hit")
        self._enforce_constraints(updated, "UPDATE")
        mat_rcv = (
            self._rt_mat_cols()[1] if self._rt_enabled() else None
        )

        def transform(df):
            out = apply_set(df)
            if mat_rcv and mat_rcv in out.columns:
                # updated rows belong to THIS commit: null the
                # materialized commit version so reads fall back to the
                # new add's defaultRowCommitVersion
                out = out.withColumn(
                    mat_rcv,
                    F.when(
                        F.coalesce(F.col("__mlk_hit"), F.lit(False)),
                        F.lit(None).cast("long"),
                    ).otherwise(F.col(mat_rcv)),
                )
            return out.drop("__mlk_hit")

        thunks = [
            lambda g=g: self._rewrite_group(
                g, meta, transform, data_change=True, now=now
            )
            for g in _by_partition(hit)
        ]
        if cdf:
            pre = hit_rows.filter(predicate).withColumn(
                "_change_type", F.lit("update_preimage")
            )
            post = updated.withColumn(
                "_change_type", F.lit("update_postimage")
            )
            thunks.append(
                lambda: self._stage_cdc(pre.unionByName(post))
            )
        actions = [a for acts in self._concurrent_stage(thunks) for a in acts]
        return self._commit(actions, operation="UPDATE")

    def _old_dv_pairs_df(self, old_payloads: dict[str, bytes]):
        """(file, row_index) pairs of EXISTING deletion vectors,
        exploded executor-side from the compressed payloads — the
        already-deleted row set DML probes must ignore.  Nothing
        expands on the driver."""
        from . import dv as _dv

        pairs_src = self.spark.createDataFrame(
            [(f, bytearray(p)) for f, p in old_payloads.items()],
            "_f string, _payload binary",
        )

        def explode_old(batches):
            import pandas as pd

            for pdf in batches:
                for fpath, payload in zip(pdf["_f"], pdf["_payload"]):
                    yield pd.DataFrame(
                        {
                            "_f": fpath,
                            "_ridx": list(_dv.deserialize(bytes(payload))),
                        }
                    )

        return pairs_src.mapInPandas(explode_old, "_f string, _ridx long")

    #: DV'd-file count above which existing-DV payloads are fetched by
    #: EXECUTORS from descriptor rows instead of materializing every
    #: payload on the driver — a 10M-file heavily-DV'd table must not
    #: hold 10M bitmaps in driver memory (round-9 VERDICT ask)
    _DV_DISTRIBUTED_FILES = 1024

    #: DV'd-file count up to which existing-DV DESCRIPTORS (not
    #: payloads — ~200 bytes each, already in the driver's snapshot
    #: listing) ship to executors as one sc.broadcast dict; above it
    #: they ride as a DataFrame joined per affected file so driver
    #: memory stays flat (~40 MB at the bound)
    _DV_DESC_BROADCAST_FILES = 200_000

    def _old_dv_pairs(self, files):
        """(file, _ridx) DataFrame of the table's EXISTING deletion
        vectors, or None when it carries none.  Below
        ``_DV_DISTRIBUTED_FILES`` the compressed payloads (KB each)
        are read driver-side and parallelized; past it only the
        DESCRIPTORS leave the driver and executors fetch + explode the
        payloads themselves — driver RSS stays flat at any DV'd-file
        count."""
        import json as _json

        from . import dv as _dv

        dv_files = [
            f
            for f in files
            if (f.get("deletionVector") or {}).get("cardinality")
        ]
        if not dv_files:
            return None
        if len(dv_files) <= self._DV_DISTRIBUTED_FILES:
            return self._old_dv_pairs_df(
                {
                    _fs.data_path_spelling(self.path, f["path"]): bytes(
                        _dv.dv_payload(self.path, f["deletionVector"])
                    )
                    for f in dv_files
                }
            )
        table_path = self.path
        desc_df = self.spark.createDataFrame(
            [
                (
                    _fs.data_path_spelling(self.path, f["path"]),
                    _json.dumps(f["deletionVector"]),
                )
                for f in dv_files
            ],
            "_f string, _desc string",
        ).repartition(min(len(dv_files) // 64 + 1, 256))

        def explode_desc(batches):
            import json as _j

            import pandas as pd

            from mirror_lake_kusto_spark.sources import dv as _dvx

            for pdf in batches:
                for fpath, dj in zip(pdf["_f"], pdf["_desc"]):
                    payload = _dvx.dv_payload(table_path, _j.loads(dj))
                    yield pd.DataFrame(
                        {
                            "_f": fpath,
                            "_ridx": list(
                                _dvx.deserialize(bytes(payload))
                            ),
                        }
                    )

        return desc_df.mapInPandas(explode_desc, "_f string, _ridx long")

    def _old_dv_desc_df(self, files):
        """Handle on the table's EXISTING deletion-vector DESCRIPTORS
        (never payloads), or None when it carries none.  Descriptors
        are ~200 bytes each and already live in the driver's snapshot
        listing, so up to ``_DV_DESC_BROADCAST_FILES`` of them ship as
        one ``sc.broadcast`` dict that ``_pack_merged_dvs`` consults
        executor-side with zero extra Spark jobs; past that bound they
        become a (file, descriptor-JSON) DataFrame joined in instead.
        Either way old payloads are fetched + deserialized
        executor-side only for AFFECTED files (r12: replaces the r11
        shape that EXPLODED every old bitmap to (file, row) rows)."""
        import json as _json

        dv_files = [
            f
            for f in files
            if (f.get("deletionVector") or {}).get("cardinality")
        ]
        if not dv_files:
            return None
        if len(dv_files) <= self._DV_DESC_BROADCAST_FILES:
            return self.spark.sparkContext.broadcast(
                {
                    _fs.data_path_spelling(self.path, f["path"]): f[
                        "deletionVector"
                    ]
                    for f in dv_files
                }
            )
        return self.spark.createDataFrame(
            [
                (
                    _fs.data_path_spelling(self.path, f["path"]),
                    _json.dumps(f["deletionVector"]),
                )
                for f in dv_files
            ],
            "_f string, _desc string",
        )

    def _pack_merged_dvs(self, matched_pairs, old_descs):
        """Per-file merged bitmaps: the matched NEW (file, row) pairs
        are grouped per file with a JVM ``collect_list`` (partial,
        map-side aggregation — guide §2.3), the per-file descriptor
        rows of EXISTING vectors join on afterwards (broadcast when
        driver-bounded small), and ONE ``mapInPandas`` pass fetches +
        deserializes each affected file's old payload executor-side
        and packs the merged bitmap — no payload broadcast, no driver
        dict, no row-level explosion of old bitmaps.  Replaces the
        earlier two-input Python cogroup, which shipped BOTH inputs
        through sort-based Python grouping (measured ~2x slower at
        identical data).  Old files with no newly-matched rows drop
        out at the join (bitmap unchanged, nothing deserializes).
        Returns collected (_f, payload, card) rows (one per AFFECTED
        file — batch-metadata-scale)."""
        import pyspark.sql.functions as F
        from pyspark.broadcast import Broadcast

        pairs = matched_pairs.select("_f", "_ridx")
        agg = pairs.groupBy("_f").agg(F.collect_list("_ridx").alias("_rows"))
        table_path = self.path

        if old_descs is None or isinstance(old_descs, Broadcast):
            desc_bc = old_descs

            def pack(batches):
                import pandas as pd

                from mirror_lake_kusto_spark.sources import dv as _dvx

                descs = desc_bc.value if desc_bc is not None else {}
                for pdf in batches:
                    out_f, out_p, out_c = [], [], []
                    for fpath, ridxs in zip(pdf["_f"], pdf["_rows"]):
                        rows = set(int(i) for i in ridxs)
                        desc = descs.get(fpath)
                        if desc is not None:
                            payload = _dvx.dv_payload(table_path, desc)
                            rows.update(
                                _dvx.deserialize(bytes(payload))
                            )
                        ordered = sorted(rows)
                        out_f.append(fpath)
                        out_p.append(_dvx.serialize(ordered))
                        out_c.append(len(ordered))
                    yield pd.DataFrame(
                        {"_f": out_f, "payload": out_p, "card": out_c}
                    ).astype({"card": "int64"})

            try:
                return (
                    agg.mapInPandas(
                        pack, "_f string, payload binary, card long"
                    ).collect()
                )
            finally:
                # the collect above is the broadcast's ONLY consumer:
                # release its blocks now instead of waiting for the
                # 2-min periodic GC — repeated DML on heavily-DV'd
                # tables otherwise accrues up to ~40 MB per commit
                # until a driver collection (r12 VERDICT item 6)
                if desc_bc is not None:
                    desc_bc.destroy()

        # descriptor count exceeds the broadcast bound: join the
        # descriptor rows on instead (plain equi-join; the planner is
        # free to pick its strategy from real sizes)
        joined = agg.join(old_descs, "_f", "left")

        def pack_joined(batches):
            import json as _j

            import pandas as pd

            from mirror_lake_kusto_spark.sources import dv as _dvx

            for pdf in batches:
                out_f, out_p, out_c = [], [], []
                for fpath, ridxs, desc in zip(
                    pdf["_f"], pdf["_rows"], pdf["_desc"]
                ):
                    rows = set(int(i) for i in ridxs)
                    # null _desc arrives as None or NaN depending on
                    # the pandas version; only a real JSON string
                    # means an existing vector
                    if isinstance(desc, str):
                        payload = _dvx.dv_payload(
                            table_path, _j.loads(desc)
                        )
                        rows.update(_dvx.deserialize(bytes(payload)))
                    ordered = sorted(rows)
                    out_f.append(fpath)
                    out_p.append(_dvx.serialize(ordered))
                    out_c.append(len(ordered))
                yield pd.DataFrame(
                    {"_f": out_f, "payload": out_p, "card": out_c}
                ).astype({"card": "int64"})

        return (
            joined.mapInPandas(
                pack_joined, "_f string, payload binary, card long"
            ).collect()
        )

    def update_dv(self, predicate: str, assignments: dict[str, str]) -> int:
        """Merge-on-read UPDATE ... SET: matched rows join each
        affected file's DELETION VECTOR and the post-update rows
        append as NEW files — write cost O(updated rows + KB-scale
        bitmaps), never the wholesale file rewrite of copy-on-write
        :meth:`update`.  At 100 TB an update matching 1% of rows must
        not rewrite 100% of the touched bytes; this is the DV-based
        UPDATE shape current Delta writers use.

        Semantics match :meth:`update` exactly (the
        tests/test_r6_update.py contract): every assignment RHS sees
        the PRE-update row; generated columns recompute from the new
        values; CHECK constraints re-validate the updated rows before
        anything lands; CDF stages update_preimage/update_postimage
        pairs; row tracking keeps every updated row's id (the original
        id is MATERIALIZED into the appended files) while its commit
        version moves to this commit (materialized NULL reads fall
        back to the new add's defaultRowCommitVersion).  Rows already
        in a deletion vector are logically gone and never match or
        re-report.  :meth:`reorg` purges these DVs like any other.
        The reference never updates in place — K6 is delete-only
        (DeltaTableOrchestration.cs:85-133)."""
        import pyspark.sql.functions as F

        from . import dv as _dv
        from .delta_log import latest_protocol, prune_by_predicate, snapshot_files

        meta, types, data_schema = self._data_schema()
        if data_schema is None:
            return -1  # empty table: nothing to update
        gen = self._generated()
        self._check_update_assignments(assignments, types, data_schema, gen)
        now = int(time.time() * 1000)
        cdf = self._cdf_enabled()
        rt = self._rt_enabled()
        mat_id, mat_rcv = self._rt_mat_cols() if rt else (None, None)
        files = prune_by_predicate(
            self.path, snapshot_files(self.spark, self.path), meta, predicate
        )
        if not files:
            return self._commit([], operation="UPDATE (merge-on-read)")
        by_norm = {
            _fs.data_path_spelling(self.path, f["path"]): f for f in files
        }
        old_pairs = self._old_dv_pairs(files)
        old_descs = self._old_dv_desc_df(files)
        # under row tracking the probe already carries every row's id
        # in the materialized columns — an appended post-update file
        # must keep them (PROTOCOL.md Row Tracking)
        probe = self._dv_probe(files, meta, row_ids=rt)
        if old_pairs is not None:
            # single consumer now (the probe anti-join); the bitmap
            # merge reads compressed payloads via old_descs instead of
            # these exploded rows, and `matched` is persisted below so
            # the explosion runs once regardless
            probe = probe.join(old_pairs, ["_f", "_ridx"], "left_anti")
        matched = probe.filter(predicate).persist()
        try:
            packed = self._pack_merged_dvs(matched, old_descs)
            if not packed:
                return self._commit([], operation="UPDATE (merge-on-read)")
            # post-update rows keep their original ids; null the
            # materialized commit version, THEN apply the assignments
            # so every RHS sees the pre-update row
            post = matched
            if rt and mat_rcv:
                post = post.withColumn(mat_rcv, F.lit(None).cast("long"))
            # cast every RHS to the column's DECLARED type (SQL UPDATE
            # semantics): a bare literal like `100.0` parses as
            # decimal(4,1) and would silently fork the postimage file's
            # physical schema off the table schema
            field_type = {f.name: f.dataType for f in data_schema.fields}
            post = post.withColumns(
                {
                    c: F.expr(e).cast(field_type[c])
                    for c, e in assignments.items()
                }
            )
            regen = {
                name: F.expr(gexpr).cast(field_type[name])
                for name, gexpr in gen.items()
                if name not in (types or {}) and name in field_type
            }
            if regen:
                post = post.withColumns(regen)
            post_rows = post.drop("_f", "_ridx")
            self._enforce_constraints(post_rows, "UPDATE")
            # CDC staging and the post-update append are independent
            # jobs (own staging dirs, both read the persisted
            # `matched`): overlap them so the append's tasks back-fill
            # executors freed by the CDC write's tail (guide §2.6)
            thunks = []
            if cdf:
                mats = [c for c in (mat_id, mat_rcv) if c]
                pre = matched.drop("_f", "_ridx", *mats).withColumn(
                    "_change_type", F.lit("update_preimage")
                )
                postc = post_rows.drop(*mats).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
                cdc_df = pre.unionByName(postc)
                thunks.append(lambda df=cdc_df: self._stage_cdc(df))
            thunks.append(
                lambda df=post_rows: self._stage_adds(
                    df, data_change=True, skip_empty=True
                )
            )
            staged = self._concurrent_stage(thunks)
            cdc_actions: list[dict] = staged[0] if cdf else []
            add_actions = staged[-1]
            cur = latest_protocol(self.path)
            pr = upgraded_protocol(
                cur, ("deletionVectors",), ("deletionVectors",)
            )
            actions: list[dict] = [] if pr == cur else [{"protocol": pr}]
            actions.extend(cdc_actions)
            full_deletes, dv_rows = [], []
            for r in packed:
                f = by_norm[r["_f"]]
                n_rec = f.get("numRecords")
                if n_rec is not None and r["card"] >= n_rec:
                    full_deletes.append(f)  # every live row updated
                else:
                    dv_rows.append((f, r))
            descs = _dv.pack_dv_file(
                self.path,
                [(bytes(r["payload"]), int(r["card"])) for _f, r in dv_rows],
            )
            for (f, _r), desc in zip(dv_rows, descs):
                actions.append(
                    {
                        "remove": {
                            "path": f["path"],
                            "deletionTimestamp": now,
                            "dataChange": True,
                            "partitionValues": f["partitionValues"] or {},
                        }
                    }
                )
                actions.append(
                    {
                        "add": {
                            "path": f["path"],
                            "partitionValues": f["partitionValues"] or {},
                            "size": f["size"],
                            "modificationTime": now,
                            "dataChange": True,
                            "stats": f.get("stats"),
                            "deletionVector": desc,
                            # same physical file: surviving rows keep
                            # their identities and clustering tags
                            "baseRowId": f.get("baseRowId"),
                            "defaultRowCommitVersion": f.get(
                                "defaultRowCommitVersion"
                            ),
                            **(
                                {"tags": dict(f["tags"])}
                                if f.get("tags")
                                else {}
                            ),
                        }
                    }
                )
            for f in full_deletes:
                actions.append(
                    {
                        "remove": {
                            "path": f["path"],
                            "deletionTimestamp": now,
                            "dataChange": True,
                            "partitionValues": f["partitionValues"] or {},
                        }
                    }
                )
            actions.extend(add_actions)
            return self._commit(actions, operation="UPDATE (merge-on-read)")
        finally:
            matched.unpersist()

    def _prep_merge(self, source, key_cols, delete_keys):
        """Shared MERGE validation (copy-on-write and merge-on-read):
        partition columns must ride the key, duplicate source keys
        raise (Delta's multiple-source-rows-matched error), delete
        keys must be disjoint from upsert keys, generated columns
        apply, constraints enforce, and the source's column set must
        equal the target's.  Returns (keys, del_keys, source, meta,
        data_schema, fill_cols)."""
        import pyspark.sql.functions as F

        keys = list(key_cols)
        if self.partition_by and not set(self.partition_by) <= set(keys):
            raise ValueError(
                f"partitioned merge requires the partition columns "
                f"{self.partition_by} inside key_cols — otherwise an "
                "update could silently move a row across partitions"
            )
        dup = source.groupBy(*keys).count().filter(F.col("count") > 1)
        dup_msg = (
            f"merge source has duplicate keys on {keys} — each target "
            "row may match at most one source row"
        )
        del_keys = None
        if delete_keys is not None:
            missing_k = [k for k in keys if k not in delete_keys.columns]
            if missing_k:
                raise ValueError(
                    f"delete_keys is missing key columns {missing_k}"
                )
            del_keys = delete_keys.select(*keys).distinct()
            overlap = source.select(*keys).join(del_keys, keys, "inner")
            # ONE validation action for both probes: each
            # `.limit(1).count()` is its own fixed-overhead Spark job,
            # and every merge commit paid two of them back to back
            # (guide §1.2: per-task work after job shape)
            flags = {
                r["_k"]
                for r in (
                    dup.limit(1)
                    .select(F.lit("dup").alias("_k"))
                    .unionAll(
                        overlap.limit(1)
                        .select(F.lit("overlap").alias("_k"))
                    )
                    .collect()
                )
            }
            if "dup" in flags:
                raise ValueError(dup_msg)
            if "overlap" in flags:
                raise ValueError(
                    "a key appears in both source and delete_keys — "
                    "upsert-then-delete has no defined order inside one "
                    "atomic commit; split them across batches"
                )
        elif dup.limit(1).count():
            raise ValueError(dup_msg)
        fill_cols = [
            n for n in self._defaults() if n not in source.columns
        ]
        source = self._apply_defaults(source)
        source = self._apply_generated(source, "MERGE")
        self._enforce_constraints(source, "MERGE")
        meta, types, data_schema = self._data_schema()
        if data_schema is not None:
            # column-set guard: a wider source would write columns the
            # table metadata doesn't record (readers silently drop
            # them), a narrower one would null-fill on rewrite — both
            # are silent drift; Delta's MERGE without autoMerge raises
            target_cols = set(types) | {f.name for f in data_schema.fields}
            if set(source.columns) != target_cols:
                extra = sorted(set(source.columns) - target_cols)
                missing = sorted(target_cols - set(source.columns))
                raise ValueError(
                    f"merge source schema mismatch: extra={extra} "
                    f"missing={missing} — project the source to the "
                    "target's columns first"
                )
        return keys, del_keys, source, meta, data_schema, fill_cols

    def merge(
        self,
        source: DataFrame,
        key_cols: Sequence[str],
        txn: tuple[str, int] | None = None,
        delete_keys: DataFrame | None = None,
    ) -> int:
        """Copy-on-write upsert (Delta's MERGE INTO with matched-update
        + not-matched-insert, keyed on ``key_cols``): files containing
        a matching key are rewritten with those rows replaced by the
        source's, and source rows matching no file append as new files.
        One atomic commit carries every remove/add.

        Scale shape mirrors ``delete``: one probe scan finds affected
        files (only the key columns of the source broadcast into the
        probe), each affected file is rewritten once via an anti-join
        against the source keys + a union of the matching source rows,
        and unmatched source rows are computed with one anti-join
        against the (small) affected-file row set's keys — at 100 TB
        the rewrite cost is proportional to files TOUCHED, never table
        size.  Duplicate keys in ``source`` raise (Delta's own
        multiple-source-rows-matched error).

        ``delete_keys`` adds whenMatchedDelete semantics: a DataFrame
        of key tuples whose matching target rows are removed in the
        SAME commit.  The keys stay executor-side end-to-end — they
        ride the probe broadcast and the per-file anti-join; nothing
        collects to the driver (vs the reference's driver-built delete
        predicates, ``Storage/TransactionLog.cs``).  A key present in
        both ``source`` and ``delete_keys`` raises: upsert-then-delete
        has no defined order inside one atomic commit."""
        import pyspark.sql.functions as F

        from .delta_log import snapshot_files

        keys, del_keys, source, meta, data_schema, fill_cols = (
            self._prep_merge(source, key_cols, delete_keys)
        )
        files = snapshot_files(self.spark, self.path)
        self._require_no_dvs("MERGE", files)
        now = int(time.time() * 1000)
        cdf = self._cdf_enabled()
        if data_schema is None:
            # empty table: a merge is a plain first append, deletes are
            # no-ops — the txn ledger entry must still ride it (I3
            # exactly-once)
            return self.append(source, txn=txn)
        src_keys = source.select(*keys).distinct()
        # probe (and anti-join) on the union of upsert + delete keys:
        # a file holding ONLY deleted rows must still rewrite
        all_keys = (
            src_keys.unionByName(del_keys).distinct()
            if del_keys is not None
            else src_keys
        )
        hit = self._hit_files(
            files,
            meta,
            lambda df: df.join(F.broadcast(all_keys), keys, "inner"),
        )
        src_cols = source.columns
        # row tracking: _rewrite_group materializes the id columns into
        # the frame; the rewrite must CARRY them — unmatched rows keep
        # id and commit version, matched (updated) rows keep their id
        # but reset the materialized commit version so reads surface
        # the MERGE's commit (same semantics as update())
        mat_id, mat_rcv = (
            self._rt_mat_cols() if self._rt_enabled() else (None, None)
        )

        def rewrite(full):
            rt_cols = [
                c for c in (mat_id, mat_rcv) if c and c in full.columns
            ]
            kept = full.join(
                F.broadcast(all_keys), keys, "left_anti"
            ).select(*src_cols, *rt_cols)
            # one output per MATCHED TARGET ROW carrying the source's
            # values (Delta's matched-update multiplicity).  No forced
            # broadcast: the source can be arbitrarily large — AQE
            # broadcasts it only when it actually fits.  Columns the
            # source OMITTED and the prep default-filled keep the
            # TARGET row's value here (UPDATE SET * semantics: a
            # default never clobbers stored data)
            keep = [F.col(c).alias(f"__mlk_keep_{c}") for c in fill_cols]
            updated = (
                full.select(*keys, *rt_cols, *keep)
                .join(source, keys, "inner")
                .select(
                    *[
                        F.col(f"__mlk_keep_{c}").alias(c)
                        if c in fill_cols
                        else F.col(c)
                        for c in src_cols
                    ],
                    *rt_cols,
                )
            )
            if mat_rcv and mat_rcv in rt_cols:
                updated = updated.withColumn(
                    mat_rcv, F.lit(None).cast("long")
                )
            return kept.unionByName(updated)

        thunks = [
            lambda g=g: self._rewrite_group(
                g, meta, rewrite, data_change=True, now=now
            )
            for g in _by_partition(hit)
        ]
        # keys present in ANY affected file = the matched set.  Derived
        # from the HIT files only (every match lives in one by
        # construction) — downstream consumers (inserts anti-join, CDF
        # post-image join) then rescan O(files touched), not the whole
        # table a probe-based frame would re-read
        hit_rows = self._scan(hit, meta) if hit else None
        matched_keys = (
            hit_rows.join(F.broadcast(all_keys), keys, "inner")
            .select(*keys)
            .distinct()
            if hit_rows is not None
            else None
        )
        inserts = (
            source.join(matched_keys, keys, "left_anti")
            if matched_keys is not None
            else source
        )
        # unmatched rows become fresh files inside the SAME commit
        # (partition-aware via the shared staging path)
        thunks.append(
            lambda: self._stage_adds(
                inserts, data_change=True, skip_empty=True
            )
        )
        if cdf:
            # row-level change feed: updated target rows (pre/post
            # image), deleted target rows, and the fresh inserts.
            # source ∩ delete_keys = ∅ (guarded above), so joining the
            # source against matched_keys yields exactly the updates.
            ct = "_change_type"
            changes = inserts.select(*src_cols).withColumn(
                ct, F.lit("insert")
            )
            if matched_keys is not None:
                # pre-image / delete rows come off the HIT files only
                # (hit_rows), not a second whole-table probe scan
                pre = (
                    hit_rows.join(F.broadcast(src_keys), keys, "inner")
                    .select(*src_cols)
                    .withColumn(ct, F.lit("update_preimage"))
                )
                if fill_cols:
                    keepp = [
                        F.col(c).alias(f"__mlk_keep_{c}")
                        for c in fill_cols
                    ]
                    post = (
                        hit_rows.join(F.broadcast(src_keys), keys, "inner")
                        .select(*keys, *keepp)
                        .join(source, keys, "inner")
                        .select(
                            *[
                                F.col(f"__mlk_keep_{c}").alias(c)
                                if c in fill_cols
                                else F.col(c)
                                for c in src_cols
                            ]
                        )
                        .withColumn(ct, F.lit("update_postimage"))
                    )
                else:
                    post = (
                        source.join(matched_keys, keys, "inner")
                        .select(*src_cols)
                        .withColumn(ct, F.lit("update_postimage"))
                    )
                changes = changes.unionByName(pre).unionByName(post)
                if del_keys is not None:
                    changes = changes.unionByName(
                        hit_rows.join(
                            F.broadcast(del_keys), keys, "inner"
                        )
                        .select(*src_cols)
                        .withColumn(ct, F.lit("delete"))
                    )
            thunks.append(lambda: self._stage_cdc(changes))
        actions = [a for acts in self._concurrent_stage(thunks) for a in acts]
        if txn is not None:
            # same idempotence contract as append(): the txn action
            # rides the MERGE commit, so a replayed micro-batch can
            # consult last_txn_version and skip (I3 exactly-once)
            actions.insert(
                0,
                {
                    "txn": {
                        "appId": txn[0],
                        "version": txn[1],
                        "lastUpdated": now,
                    }
                },
            )
        return self._commit(actions, operation="MERGE")

    def merge_dv(
        self,
        source: DataFrame,
        key_cols: Sequence[str],
        txn: tuple[str, int] | None = None,
        delete_keys: DataFrame | None = None,
    ) -> int:
        """Merge-on-read MERGE (DV-writing upsert): target rows whose
        key matches the source (or ``delete_keys``) join their file's
        DELETION VECTOR, and the source rows — matched updates and
        unmatched inserts alike — append as new files.  One atomic
        commit; write cost O(source rows + KB-scale bitmaps), never
        copy-on-write :meth:`merge`'s wholesale rewrite of every file
        containing a matched key.  At 100 TB a merge touching 1% of
        keys must not rewrite 100% of the touched bytes.

        Validation, matched-update multiplicity (one output per
        matched TARGET row carrying the source's values), CDF change
        types (insert / update_preimage / update_postimage / delete),
        row tracking (updated rows keep their ids, materialized into
        the appended files; inserts mint fresh ones) and txn
        idempotence all match :meth:`merge`.  A target row already in
        a deletion vector is logically gone: its key does NOT count as
        matched, so the source row inserts instead.  :meth:`reorg`
        purges these DVs like any other."""
        import pyspark.sql.functions as F

        from . import dv as _dv
        from .delta_log import latest_protocol, snapshot_files

        keys, del_keys, source, meta, data_schema, fill_cols = (
            self._prep_merge(source, key_cols, delete_keys)
        )
        now = int(time.time() * 1000)
        cdf = self._cdf_enabled()
        if data_schema is None:
            # empty table: all-inserts append; deletes are no-ops
            return self.append(source, txn=txn)
        rt = self._rt_enabled()
        mat_id, mat_rcv = self._rt_mat_cols() if rt else (None, None)
        rt_cols = [c for c in (mat_id, mat_rcv) if c]
        files = snapshot_files(self.spark, self.path)
        by_norm = {
            _fs.data_path_spelling(self.path, f["path"]): f for f in files
        }
        old_pairs = self._old_dv_pairs(files)
        old_descs = self._old_dv_desc_df(files)
        src_keys = source.select(*keys).distinct()
        all_keys = (
            src_keys.unionByName(del_keys).distinct()
            if del_keys is not None
            else src_keys
        )
        actions: list[dict] = []
        matched = None
        packed: list = []
        if files:
            # under row tracking the probe carries every row's id in the
            # materialized columns: an updated row's appended file must
            # keep it (PROTOCOL.md Row Tracking)
            probe = self._dv_probe(files, meta, row_ids=rt)
            if old_pairs is not None:
                # single consumer now (the probe anti-join); the bitmap
                # merge reads compressed payloads via old_descs, and
                # `matched` is persisted so the explosion runs once
                probe = probe.join(old_pairs, ["_f", "_ridx"], "left_anti")
            matched = probe.join(
                F.broadcast(all_keys), keys, "inner"
            ).persist()
        try:
            if matched is not None:
                packed = self._pack_merged_dvs(matched, old_descs)
            src_cols = source.columns
            matched_keys = None
            updated = None
            m_rows = None
            if packed:
                m_rows = matched
                matched_keys = m_rows.select(*keys).distinct()
                carry = [c for c in rt_cols if c in m_rows.columns]
                # one output per matched TARGET row with the SOURCE's
                # values (Delta's matched-update multiplicity); the
                # target row's materialized id rides along, its commit
                # version resets to this commit.  Default-filled
                # columns the source omitted keep the TARGET value
                # (UPDATE SET * semantics) — the postimage derives
                # from this frame, so CDF stays consistent for free
                keep = [
                    F.col(c).alias(f"__mlk_keep_{c}") for c in fill_cols
                ]
                updated = (
                    m_rows.select(*keys, *carry, *keep)
                    .join(source, keys, "inner")
                    .select(
                        *[
                            F.col(f"__mlk_keep_{c}").alias(c)
                            if c in fill_cols
                            else F.col(c)
                            for c in src_cols
                        ],
                        *carry,
                    )
                )
                if mat_rcv and mat_rcv in (updated.columns):
                    updated = updated.withColumn(
                        mat_rcv, F.lit(None).cast("long")
                    )
            inserts = (
                source.join(matched_keys, keys, "left_anti")
                if matched_keys is not None
                else source
            )
            # the CDC write, the updated-row append and the insert
            # append are independent staging jobs (own uuid dirs, all
            # reading the persisted `matched` / the source): run them
            # concurrently so each job's tasks back-fill executors
            # freed by the previous one's tail (guide §2.6)
            thunks = []
            if cdf:
                ct = "_change_type"
                changes = inserts.select(*src_cols).withColumn(
                    ct, F.lit("insert")
                )
                if packed:
                    pre = (
                        m_rows.join(F.broadcast(src_keys), keys, "inner")
                        .select(*src_cols)
                        .withColumn(ct, F.lit("update_preimage"))
                    )
                    post = (
                        updated.select(*src_cols)
                        .withColumn(ct, F.lit("update_postimage"))
                    )
                    changes = changes.unionByName(pre).unionByName(post)
                    if del_keys is not None:
                        changes = changes.unionByName(
                            m_rows.join(
                                F.broadcast(del_keys), keys, "inner"
                            )
                            .select(*src_cols)
                            .withColumn(ct, F.lit("delete"))
                        )
                thunks.append(lambda df=changes: self._stage_cdc(df))
            if updated is not None:
                thunks.append(
                    lambda df=updated: self._stage_adds(
                        df, data_change=True, skip_empty=True
                    )
                )
            thunks.append(
                lambda df=inserts: self._stage_adds(
                    df, data_change=True, skip_empty=True
                )
            )
            staged = self._concurrent_stage(thunks)
            cdc_actions: list[dict] = staged[0] if cdf else []
            updated_adds = staged[-2] if updated is not None else []
            insert_adds = staged[-1]
            if packed:
                cur = latest_protocol(self.path)
                pr = upgraded_protocol(
                    cur, ("deletionVectors",), ("deletionVectors",)
                )
                if pr != cur:
                    actions.append({"protocol": pr})
            actions.extend(cdc_actions)
            full_deletes, dv_rows = [], []
            for r in packed:
                f = by_norm[r["_f"]]
                n_rec = f.get("numRecords")
                if n_rec is not None and r["card"] >= n_rec:
                    full_deletes.append(f)
                else:
                    dv_rows.append((f, r))
            descs = _dv.pack_dv_file(
                self.path,
                [(bytes(r["payload"]), int(r["card"])) for _f, r in dv_rows],
            )
            for (f, _r), desc in zip(dv_rows, descs):
                actions.append(
                    {
                        "remove": {
                            "path": f["path"],
                            "deletionTimestamp": now,
                            "dataChange": True,
                            "partitionValues": f["partitionValues"] or {},
                        }
                    }
                )
                actions.append(
                    {
                        "add": {
                            "path": f["path"],
                            "partitionValues": f["partitionValues"] or {},
                            "size": f["size"],
                            "modificationTime": now,
                            "dataChange": True,
                            "stats": f.get("stats"),
                            "deletionVector": desc,
                            "baseRowId": f.get("baseRowId"),
                            "defaultRowCommitVersion": f.get(
                                "defaultRowCommitVersion"
                            ),
                            **(
                                {"tags": dict(f["tags"])}
                                if f.get("tags")
                                else {}
                            ),
                        }
                    }
                )
            for f in full_deletes:
                actions.append(
                    {
                        "remove": {
                            "path": f["path"],
                            "deletionTimestamp": now,
                            "dataChange": True,
                            "partitionValues": f["partitionValues"] or {},
                        }
                    }
                )
            actions.extend(updated_adds)
            actions.extend(insert_adds)
            if txn is not None:
                actions.insert(
                    0,
                    {
                        "txn": {
                            "appId": txn[0],
                            "version": txn[1],
                            "lastUpdated": now,
                        }
                    },
                )
            return self._commit(actions, operation="MERGE (merge-on-read)")
        finally:
            if matched is not None:
                matched.unpersist()

    def _delete_dv_cdc(self, probe, predicate, old_pairs, packed):
        """Row-level change feed for delete_dv: only the NEWLY deleted
        rows — a row already in a prior deletion vector must not
        re-report.  The old-vector pairs anti-join the matches;
        nothing expands on the driver."""
        import pyspark.sql.functions as F

        if not (packed and self._cdf_enabled()):
            return []
        newly = probe.filter(predicate)
        if old_pairs is not None:
            newly = newly.join(old_pairs, ["_f", "_ridx"], "left_anti")
        return self._stage_cdc(
            newly.drop("_f", "_ridx").withColumn(
                "_change_type", F.lit("delete")
            )
        )

    def delete_dv(self, predicate: str) -> int:
        """Merge-on-read row-level delete: instead of rewriting every
        file containing a match (copy-on-write ``delete``), write a
        roaring-bitmap DELETION VECTOR per affected file and re-add the
        file with its descriptor — one commit, KBs of new bytes.

        At 100 TB this is the difference between rewriting terabytes to
        delete a few rows and appending kilobytes: the scan cost is the
        same probe as ``delete``, the write cost is O(deleted-row
        bitmap).  Readers apply the bitmaps via ``read_snapshot``;
        copy-on-write maintenance refuses until ``reorg()``
        materializes them (Delta's REORG APPLY PURGE model).

        Executor-side end-to-end: matching (file, row_index) pairs are
        found by a distributed scan, each file's bitmap is serialized
        inside ``applyInPandas`` (merging any EXISTING vector without
        driver expansion), and the driver collects only the compressed
        payloads.  A file whose every row is deleted gets a plain
        remove instead of a DV.  The commit also upgrades the protocol
        to readerVersion 3 + deletionVectors."""
        from . import dv as _dv
        from .delta_log import prune_by_predicate, snapshot_files

        meta, _types, data_schema = self._data_schema()
        if data_schema is None:
            return -1  # empty table: nothing to delete
        now = int(time.time() * 1000)
        files = prune_by_predicate(
            self.path, snapshot_files(self.spark, self.path), meta, predicate
        )
        if not files:
            return self._commit([], operation="DELETE (merge-on-read)")
        # file identity key = the spelling read_files carries as
        # __mlk_file (plain strings also keep the Arrow closure free of
        # py4j handles)
        by_norm: dict[str, dict] = {
            _fs.data_path_spelling(self.path, f["path"]): f for f in files
        }
        old_descs = self._old_dv_desc_df(files)
        # the exploded (file, row) form of the old vectors is only
        # needed by the CDC anti-join (newly-deleted rows must exclude
        # already-deleted ones); the bitmap merge itself reads the
        # compressed payloads via old_descs.  With CDF off, no old
        # bitmap ever explodes at all (r12 optimization)
        old_pairs = (
            self._old_dv_pairs(files) if self._cdf_enabled() else None
        )
        probe = self._dv_probe(files, meta)
        matched = probe.filter(predicate).select("_f", "_ridx")
        packed = self._pack_merged_dvs(matched, old_descs)
        cdc_actions = self._delete_dv_cdc(
            probe, predicate, old_pairs, packed
        )
        if not packed:
            return self._commit([], operation="DELETE (merge-on-read)")
        # protocol upgrade MERGES with whatever the table already
        # declares (overwriting would drop features like timestampNtz
        # or v2Checkpoint an external writer recorded) AND enumerates
        # the legacy features the old version numbers implied
        from .delta_log import latest_protocol

        cur = latest_protocol(self.path)
        pr = upgraded_protocol(
            cur, ("deletionVectors",), ("deletionVectors",)
        )
        full_deletes, dv_rows = [], []
        for r in packed:
            f = by_norm[r["_f"]]
            old_card = (f.get("deletionVector") or {}).get(
                "cardinality"
            ) or 0
            if old_card and r["card"] <= old_card:
                # every matching row was already deleted (the merged
                # bitmap is the old bitmap): re-adding an identical DV
                # is log churn — and under CDF it would commit DV
                # re-adds with NO cdc action (zero newly-deleted
                # rows), which permanently breaks the change feed over
                # that span
                continue
            n_rec = f.get("numRecords")
            if n_rec is not None and r["card"] >= n_rec:
                full_deletes.append(f)
            else:
                dv_rows.append((f, r))
        if not full_deletes and not dv_rows:
            return self._commit([], operation="DELETE (merge-on-read)")
        actions: list[dict] = [] if pr == cur else [{"protocol": pr}]
        actions.extend(cdc_actions)
        descs = _dv.pack_dv_file(
            self.path,
            [(bytes(r["payload"]), int(r["card"])) for _f, r in dv_rows],
        )
        for (f, _r), desc in zip(dv_rows, descs):
            actions.append(
                {
                    "remove": {
                        "path": f["path"],
                        "deletionTimestamp": now,
                        "dataChange": True,
                        "partitionValues": f["partitionValues"] or {},
                    }
                }
            )
            actions.append(
                {
                    "add": {
                        "path": f["path"],
                        "partitionValues": f["partitionValues"] or {},
                        "size": f["size"],
                        "modificationTime": now,
                        "dataChange": True,
                        "stats": f.get("stats"),
                        "deletionVector": desc,
                        # re-adding the SAME file with a DV must keep
                        # its row ids (PROTOCOL.md Row Tracking) — the
                        # surviving rows' identities don't change
                        "baseRowId": f.get("baseRowId"),
                        "defaultRowCommitVersion": f.get(
                            "defaultRowCommitVersion"
                        ),
                        # same physical file: clustering stays valid
                        **({"tags": dict(f["tags"])} if f.get("tags") else {}),
                    }
                }
            )
        for f in full_deletes:
            actions.append(
                {
                    "remove": {
                        "path": f["path"],
                        "deletionTimestamp": now,
                        "dataChange": True,
                        "partitionValues": f["partitionValues"] or {},
                    }
                }
            )
        return self._commit(actions, operation="DELETE (merge-on-read)")

    def reorg(self) -> int:
        """REORG TABLE ... APPLY (PURGE): materialize every deletion
        vector by rewriting only the DV'd files without their deleted
        rows (dataChange=false — logical content is unchanged, so the
        mirror and the change feed ignore the churn, O2).  After this
        the copy-on-write paths (delete/merge/optimize) work again."""
        from .delta_log import snapshot_files

        dv_files = [
            f
            for f in snapshot_files(self.spark, self.path)
            if (f.get("deletionVector") or {}).get("cardinality")
        ]
        if not dv_files:
            return self._commit([], operation="REORG (PURGE)")
        # read_files applies each file's deletion vector, so the
        # rewrite is the identity over the surviving rows
        meta, _types, _data_schema = self._data_schema()
        now = int(time.time() * 1000)
        actions: list[dict] = []
        for group in _by_partition(dv_files):
            actions.extend(
                self._rewrite_group(
                    group, meta, lambda df: df, data_change=False, now=now
                )
            )
        return self._commit(actions, operation="REORG (PURGE)")

    def properties(self) -> dict[str, str]:
        """Table properties from the latest metaData's configuration —
        the engine's K2 table-policy store (Kusto merge/retention/
        caching policies map onto Delta TBLPROPERTIES)."""
        from .delta_log import latest_metadata

        meta = latest_metadata(self.spark, self.path)
        return dict((meta or {}).get("configuration") or {})

    def set_properties(
        self, props: dict[str, str], unset: Sequence[str] = ()
    ) -> int:
        """SET/UNSET TBLPROPERTIES — merge into the table's
        configuration and commit new metaData (table id and schema are
        preserved; only the configuration changes).  The K2 analogue:
        the reference drives Kusto table policies (merge batching,
        retention) at setup; here the same knobs live in the table
        itself and the engine reads them (``mlk.optimize.
        targetFileBytes`` steers OPTIMIZE's output sizing)."""
        from .delta_log import latest_metadata

        for key in ("mlk.optimize.targetFileBytes",):
            if key in props:
                try:
                    int(str(props[key]))
                except ValueError:
                    raise ValueError(
                        f"property {key} must be an integer byte count, "
                        f"got {props[key]!r}"
                    ) from None
        # enabling the change feed is a WRITER-FEATURE behavior: the
        # feature must be committed to the table protocol before the
        # property takes effect (PROTOCOL.md "Change Data Feed")
        if (
            str(props.get("delta.enableChangeDataFeed", "")).lower()
            == "true"
        ):
            from .delta_log import latest_protocol

            cur = latest_protocol(self.path)
            if "changeDataFeed" not in (
                (cur or {}).get("writerFeatures") or []
            ):
                self._commit_protocol_upgrade(
                    writer_features=("changeDataFeed",)
                )
        # row tracking (PROTOCOL.md "Row Tracking"): commit the writer
        # features, BACKFILL ids for existing files (re-add them with
        # fresh baseRowIds, dataChange=false) and pick the materialized
        # column names rewrites will preserve ids through
        if (
            str(props.get("delta.enableRowTracking", "")).lower()
            == "true"
        ):
            props = {**props, **self._enable_row_tracking()}
        # in-commit timestamps are likewise feature-gated: commit the
        # writer feature first, and record the enablement provenance
        # (version + clock of the enabling commit) the protocol asks
        # for so readers know mtimes before that point are historical
        ict_enabling = (
            str(props.get("delta.enableInCommitTimestamps", "")).lower()
            == "true"
        )
        if ict_enabling:
            from .delta_log import latest_protocol

            cur = latest_protocol(self.path)
            if "inCommitTimestamp" not in (
                (cur or {}).get("writerFeatures") or []
            ):
                self._commit_protocol_upgrade(
                    writer_features=("inCommitTimestamp",)
                )
        # read-modify-write under optimistic concurrency: a concurrent
        # metaData commit (schema evolution, another property writer)
        # makes _commit raise via the metaData conflict rule — re-read
        # and retry so no winner's state is ever overwritten blind
        for _attempt in range(5):
            # compare-and-swap: pin the expected version BEFORE reading
            # the metadata; any concurrent commit moves the head and
            # fails ours, so no winner's schema/properties are ever
            # overwritten with stale state
            expected = self._next_version()
            meta = latest_metadata(self.spark, self.path)
            if meta is None:
                raise ValueError(
                    f"{self.path}: no table metadata yet — write data "
                    "first"
                )
            conf = dict(meta.get("configuration") or {})
            conf.update({k: str(v) for k, v in props.items()})
            for k in unset:
                conf.pop(k, None)
            if ict_enabling:
                # enablement provenance must name THE commit the
                # property lands in (pinned per CAS attempt — a lost
                # race recomputes it); the timestamp is synced to the
                # actual stamped inCommitTimestamp by _stamp_ict
                conf["delta.inCommitTimestampEnablementVersion"] = str(
                    expected
                )
                conf.setdefault(
                    "delta.inCommitTimestampEnablementTimestamp",
                    str(int(time.time() * 1000)),
                )
            md = {**meta, "configuration": conf}
            try:
                return self._commit(
                    [{"metaData": md}],
                    operation="SET TBLPROPERTIES",
                    expected_version=expected,
                )
            except ConcurrentCommitConflict:
                continue
        raise ConcurrentCommitConflict(
            f"{self.path}: metadata kept changing under set_properties"
        )

    def evolve_rename(self, renames: dict[str, str]) -> int:
        """Metadata-only column RENAME via Delta column mapping
        ('name' mode, PROTOCOL.md "Column Mapping"): no data file is
        touched.  First use assigns every field its physical identity
        — ``physicalName`` = the spelling the EXISTING parquet files
        carry (its current logical name) plus a stable
        ``columnMapping.id`` — flips ``delta.columnMapping.mode`` to
        ``name``, and commits the columnMapping protocol feature with
        the new metaData in one atomic commit.  Later appends write
        physical names (see _stage_adds); reads stay logical via
        read_snapshot.  The reference hard-stops on any rename
        (Storage/TransactionLog.cs:153-157) — this is the
        mapping-aware evolution beyond that parity point.

        Drop/retype still raise loudly elsewhere; this method only
        relabels existing fields."""
        from .delta_log import latest_metadata, latest_protocol

        meta = latest_metadata(self.spark, self.path)
        if meta is None:
            raise ValueError(f"{self.path}: no metaData to rename")
        parsed = json.loads(meta["schemaString"])
        known = {f["name"] for f in parsed["fields"]}
        missing = set(renames) - known
        if missing:
            raise ValueError(
                f"rename of unknown column(s): {sorted(missing)}"
            )
        new_names = [
            renames.get(f["name"], f["name"]) for f in parsed["fields"]
        ]
        if len(set(new_names)) != len(new_names):
            raise ValueError(
                f"rename would produce duplicate column names: {new_names}"
            )
        conf = dict(meta.get("configuration") or {})
        stamped, max_id = _stamp_mapping_identity(parsed["fields"], conf)
        new_fields = [
            {**f, "name": renames.get(f["name"], f["name"])}
            for f in stamped
        ]
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(max_id)
        new_schema = json.dumps({**parsed, "fields": new_fields})
        new_meta = {
            **meta,
            "schemaString": new_schema,
            "configuration": conf,
            "partitionColumns": [
                renames.get(c, c)
                for c in (meta.get("partitionColumns") or [])
            ],
        }
        actions: list[dict] = []
        cur_pr = latest_protocol(self.path)
        if "columnMapping" not in set(
            (cur_pr or {}).get("readerFeatures") or []
        ):
            pr = upgraded_protocol(
                cur_pr, ("columnMapping",), ("columnMapping",)
            )
            if pr != cur_pr:
                actions.append({"protocol": pr})
        actions.append({"metaData": new_meta})
        # keep this writer's own view consistent with the new metadata
        self.partition_by = [
            renames.get(c, c) for c in self.partition_by
        ]
        self._pending_schema = new_schema
        self._mapping_cache = False  # re-derive after the rename commits
        return self._commit(actions, operation="RENAME COLUMN")

    def evolve_add(self, new_schema_json: str) -> int:
        """ADDITIVE schema evolution on a column-mapped table: every
        existing logical field must survive with an identical type;
        new fields are appended with fresh mapping identities
        (physicalName = ``col-<uuid>`` under 'name'-mode mapping —
        Delta's own convention, which guarantees a column RE-ADDED
        after evolve_drop can never resurrect the dropped column's
        bytes from old files — and the next columnMapping.id).  Idempotent: when the
        recorded schema already covers every incoming field, no commit
        is written.  This is the path the mirror's evolve-rename mode
        uses when the SOURCE adds a column after a rename — a plain
        schema-changing append would clobber the mapping metadata
        (_commit refuses exactly that)."""
        from .delta_log import latest_metadata

        meta = latest_metadata(self.spark, self.path)
        if meta is None:
            raise ValueError(f"{self.path}: no metaData to evolve")
        parsed = json.loads(meta["schemaString"])
        have = {f["name"]: f for f in parsed["fields"]}
        incoming = json.loads(new_schema_json)["fields"]
        for f in incoming:
            old = have.get(f["name"])
            if old is not None and old["type"] != f["type"]:
                raise ValueError(
                    f"evolve_add: field {f['name']!r} changes type "
                    f"{old['type']!r} -> {f['type']!r} (not additive)"
                )
        new_fields = [f for f in incoming if f["name"] not in have]
        if not new_fields:
            return -1  # nothing to add — replay-safe no-op
        conf = dict(meta.get("configuration") or {})
        max_id = int(conf.get("delta.columnMapping.maxColumnId") or 0)
        mapped = conf.get("delta.columnMapping.mode") == "name"
        added = []
        for f in new_fields:
            max_id += 1
            added.append(
                {
                    **f,
                    "metadata": {
                        **(f.get("metadata") or {}),
                        "delta.columnMapping.physicalName": (
                            f"col-{uuid.uuid4()}" if mapped else f["name"]
                        ),
                        "delta.columnMapping.id": max_id,
                    },
                }
            )
        conf["delta.columnMapping.maxColumnId"] = str(max_id)
        new_schema = json.dumps(
            {**parsed, "fields": parsed["fields"] + added}
        )
        self._pending_schema = new_schema
        self._mapping_cache = False
        return self._commit(
            [
                {
                    "metaData": {
                        **meta,
                        "schemaString": new_schema,
                        "configuration": conf,
                    }
                }
            ],
            operation="ADD COLUMNS",
        )

    def evolve_drop(self, columns: Sequence[str]) -> int:
        """ALTER TABLE DROP COLUMN via column mapping (PROTOCOL.md
        "Column Mapping"): metadata-only — the dropped fields leave
        the logical schema while every data file keeps its bytes, so
        the drop is O(1) regardless of table size.  First use enables
        'name'-mode mapping exactly like :meth:`evolve_rename`
        (physicalName = current spelling for every SURVIVING field,
        so old files keep reading).  A column later re-added via
        :meth:`evolve_add` gets a fresh ``col-<uuid>`` physical name,
        so the dropped bytes can never resurrect under the new field.

        Refused loudly for: partition columns (the directory layout
        IS the column), clustering columns (OPTIMIZE would lose its
        curve), columns referenced by a CHECK constraint or by a
        surviving field's generation expression, and dropping every
        column."""
        import re as _re

        from .delta_log import latest_metadata, latest_protocol

        cols = list(columns)
        meta = latest_metadata(self.spark, self.path)
        if meta is None:
            raise ValueError(f"{self.path}: no metaData to evolve")
        parsed = json.loads(meta["schemaString"])
        known = {f["name"] for f in parsed["fields"]}
        missing = set(cols) - known
        if missing:
            raise ValueError(
                f"drop of unknown column(s): {sorted(missing)}"
            )
        if len(cols) >= len(parsed["fields"]):
            raise ValueError("cannot drop every column")
        part_hit = set(cols) & set(meta.get("partitionColumns") or [])
        if part_hit:
            raise ValueError(
                f"cannot drop partition column(s) {sorted(part_hit)}"
            )
        ccols = self._clustering_columns() or []
        clust_hit = set(cols) & set(ccols)
        if clust_hit:
            raise ValueError(
                f"cannot drop clustering column(s) {sorted(clust_hit)}"
            )
        conf = dict(meta.get("configuration") or {})
        # IGNORECASE + backtick spellings: Spark resolves identifiers
        # case-insensitively, so a constraint written (PRICE > 0) or
        # (`price` > 0) still references column `price` (round-9 ADVICE)
        word = {
            c: _re.compile(
                rf"(?:\b|`){_re.escape(c)}(?:\b|`)", _re.IGNORECASE
            )
            for c in cols
        }
        for k, expr in conf.items():
            if k.startswith("delta.constraints."):
                hit = [c for c in cols if word[c].search(expr)]
                if hit:
                    raise ValueError(
                        f"cannot drop {hit}: referenced by CHECK "
                        f"constraint {k.removeprefix('delta.constraints.')}"
                        f" = ({expr})"
                    )
        for f in parsed["fields"]:
            if f["name"] in cols:
                continue
            gen = (f.get("metadata") or {}).get(
                "delta.generationExpression"
            )
            if gen:
                hit = [c for c in cols if word[c].search(gen)]
                if hit:
                    raise ValueError(
                        f"cannot drop {hit}: referenced by generated "
                        f"column {f['name']} = ({gen})"
                    )
        # stamp identity on the SURVIVORS only — allocating mapping
        # ids to fields being dropped would burn them permanently
        survivors, max_id = _stamp_mapping_identity(
            [f for f in parsed["fields"] if f["name"] not in cols], conf
        )
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(max_id)
        new_schema = json.dumps({**parsed, "fields": survivors})
        actions: list[dict] = []
        cur_pr = latest_protocol(self.path)
        if "columnMapping" not in set(
            (cur_pr or {}).get("readerFeatures") or []
        ):
            pr = upgraded_protocol(
                cur_pr, ("columnMapping",), ("columnMapping",)
            )
            if pr != cur_pr:
                actions.append({"protocol": pr})
        actions.append(
            {
                "metaData": {
                    **meta,
                    "schemaString": new_schema,
                    "configuration": conf,
                }
            }
        )
        self._pending_schema = new_schema
        self._mapping_cache = False
        self._tbl_types_cache = False
        self._fields_cache = False
        return self._commit(
            actions, operation=f"DROP COLUMNS ({', '.join(cols)})"
        )

    def widen_column(self, column: str, to_type: str) -> int:
        """ALTER COLUMN ... TYPE, restricted to PROTOCOL.md's lossless
        Type Widening matrix: the table's metaData records the wide
        type while every existing data file keeps its narrow physical
        type (no rewrite), so the commit must also enable the
        ``typeWidening`` reader+writer feature — readers that don't
        promote on read would return wrong values.  ``to_type`` is a
        Delta JSON type string ('long', 'double', 'decimal(12,2)',
        'timestamp_ntz').  The reference refuses every retype
        (Storage/TransactionLog.cs:153-157); this is the evolution
        beyond that parity point."""
        return self.evolve_widen({column: to_type})

    def evolve_widen(self, widen_map: dict[str, str]) -> int:
        """Apply several column widenings in ONE commit (the mirror's
        ``on_schema_change='widen'`` follow path).  Per column: no-op
        when the table already has the target type (crash-replay
        idempotence), loud refusal when the change is not in the
        lossless widening matrix.  Each widened field's metadata gains
        a ``delta.typeChanges`` history entry ({fromType, toType} —
        PROTOCOL.md "Type Change Metadata"), appended to any prior
        entries so a twice-widened column keeps its full lineage.
        Column-mapping metadata (physicalName/id) rides along
        untouched, so mapped tables widen too.  Returns the commit
        version, or -1 when every column was already wide."""
        from .delta_log import (
            is_type_widening,
            latest_metadata,
            latest_protocol,
        )

        meta = latest_metadata(self.spark, self.path)
        if meta is None:
            raise ValueError(f"{self.path}: no metaData to widen")
        parsed = json.loads(meta["schemaString"])
        by_name = {f["name"]: f for f in parsed["fields"]}
        missing = sorted(set(widen_map) - set(by_name))
        if missing:
            raise ValueError(f"widen of unknown column(s): {missing}")
        changed = False
        for name, to_t in widen_map.items():
            f = by_name[name]
            if f["type"] == to_t:
                continue  # already wide: replay-safe no-op
            if not is_type_widening(f["type"], to_t):
                raise ValueError(
                    f"widen_column: {name!r} {f['type']!r} -> {to_t!r} "
                    "is not a lossless widening (PROTOCOL.md Type "
                    "Widening matrix); a lossy retype needs a full "
                    "table rewrite"
                )
            md = dict(f.get("metadata") or {})
            md["delta.typeChanges"] = list(
                md.get("delta.typeChanges") or []
            ) + [{"fromType": f["type"], "toType": to_t}]
            f["metadata"] = md
            f["type"] = to_t
            changed = True
        if not changed:
            return -1
        new_schema = json.dumps(parsed)
        actions: list[dict] = []
        cur_pr = latest_protocol(self.path)
        if "typeWidening" not in set(
            (cur_pr or {}).get("readerFeatures") or []
        ):
            pr = upgraded_protocol(
                cur_pr, ("typeWidening",), ("typeWidening",)
            )
            if pr != cur_pr:
                actions.append({"protocol": pr})
        actions.append(
            {"metaData": {**meta, "schemaString": new_schema}}
        )
        self._pending_schema = new_schema
        return self._commit(actions, operation="CHANGE COLUMN")

    def set_cluster_by(self, cols: Sequence[str]) -> int:
        """Declare LIQUID CLUSTERING on the table (Delta's
        ``ALTER TABLE ... CLUSTER BY``): one commit carrying the
        ``clustering`` + ``domainMetadata`` writer features and the
        ``delta.clustering`` domain whose configuration records
        ``{"clusteringColumns": [["col"], ...]}`` (physical names on a
        column-mapped table, per the spec).  Writer-only: readers need
        nothing new.  From then on a bare :meth:`optimize` lays data
        out along the Hilbert curve over these columns — the
        incremental, no-partition-boundaries layout that replaced
        ZORDER as the default for new tables.  Idempotent when the
        same columns are already declared (returns -1)."""
        from .delta_log import (
            latest_domain_metadata,
            latest_metadata,
            latest_protocol,
        )

        cols = list(cols)
        if not cols:
            raise ValueError("set_cluster_by needs at least one column")
        meta = latest_metadata(self.spark, self.path)
        if meta is None:
            raise ValueError(
                f"{self.path}: set_cluster_by before the table exists — "
                "append first"
            )
        mapping = self._current_mapping()  # logical -> physical
        # partitionColumns are PHYSICAL on a column-mapped table —
        # translate to logical before comparing against `cols`, or a
        # renamed partition column slips past the exclusivity check
        from .delta_log import column_mapping_of

        log_of = {v: k for k, v in (column_mapping_of(meta) or {}).items()}
        part_cols = {
            log_of.get(c, c) for c in (meta.get("partitionColumns") or [])
        }
        bad = [c for c in cols if c in part_cols]
        if bad:
            raise ValueError(
                f"cluster columns {bad} are partition columns — liquid "
                "clustering and hive partitioning are exclusive per key"
            )
        known = {
            f["name"] for f in json.loads(meta["schemaString"])["fields"]
        }
        missing = [c for c in cols if c not in known]
        if missing:
            raise ValueError(f"unknown cluster column(s): {missing}")
        # curve-eligibility at DECLARATION time: a non-orderable type
        # (array/map/struct/binary) has no numeric proxy, so every
        # later bare optimize() — including MirrorPipeline's periodic
        # pass — would raise mid-sync.  Fail the misconfiguration here.
        from ..schema import parse_delta_schema_string
        from .skipping import numeric_proxy

        type_of = {
            f.name: f.dataType
            for f in parse_delta_schema_string(meta["schemaString"]).fields
        }
        for c in cols:
            try:
                numeric_proxy(c, type_of[c])
            except ValueError:
                raise ValueError(
                    f"cluster column {c!r} has type "
                    f"{type_of[c].simpleString()}, which has no "
                    "order-preserving numeric proxy — liquid clustering "
                    "needs an orderable scalar (numeric, string, date, "
                    "timestamp, boolean)"
                ) from None
        stored = [[mapping.get(c, c) if mapping else c] for c in cols]
        cur = latest_domain_metadata(self.path).get("delta.clustering")
        if cur is not None and (
            json.loads(cur).get("clusteringColumns") == stored
        ):
            return -1  # already declared: replay-safe no-op
        actions: list[dict] = []
        pr = latest_protocol(self.path)
        have_w = set((pr or {}).get("writerFeatures") or [])
        need = [
            f
            for f in ("clustering", "domainMetadata")
            if f not in have_w
        ]
        if need:
            up = upgraded_protocol(pr, (), tuple(need))
            if up != pr:
                actions.append({"protocol": up})
        actions.append(
            {
                "domainMetadata": {
                    "domain": "delta.clustering",
                    "configuration": json.dumps(
                        {"clusteringColumns": stored}
                    ),
                    "removed": False,
                }
            }
        )
        return self._commit(actions, operation="CLUSTER BY")

    def _clustering_columns(self) -> list[str] | None:
        """LOGICAL clustering columns declared in the
        ``delta.clustering`` domain, or None."""
        from .delta_log import latest_domain_metadata

        conf = latest_domain_metadata(self.path).get("delta.clustering")
        if not conf:
            return None
        paths = json.loads(conf).get("clusteringColumns") or []
        mapping = self._current_mapping()
        log_of = {v: k for k, v in (mapping or {}).items()}
        out: list[str] = []
        for p in paths:
            name = p[0] if isinstance(p, list) else p
            if isinstance(p, list) and len(p) != 1:
                raise ValueError(
                    f"nested clustering path {p} is not supported"
                )
            out.append(log_of.get(name, name))
        return out or None

    def optimize(
        self,
        target_file_bytes: int | None = None,
        zorder_by: Sequence[str] | None = None,
        partition_predicate: str | None = None,
        cluster_by: Sequence[str] | None = None,
        full: bool = False,
    ) -> int:
        """Compact each partition group toward ``target_file_bytes``-sized
        files; every action carries ``dataChange: false`` — the churn
        the mirror must NOT re-ingest (O2; reference test
        Electric/Scripts/Optimize.py + LoadTest.cs:31-48).

        Output file count = ceil(group bytes / target), so a 1 TB
        partition compacts to ~8000 healthy files, never one; groups
        already at or below their target count are left untouched.

        ``zorder_by`` clusters rows along the interleaved-bit z-curve
        over the named data columns before writing (range-partitioned +
        sorted within partitions), so every output file covers a tight
        [min, max] range on ALL the named columns at once — the layout
        that makes stats-based data skipping (``to_df(predicate=...)``)
        selective on multi-column workloads.  Kusto's analogue is the
        extent row-order policy its planner exploits via the min/max
        index.  Z-ordering rewrites every group (the point is to move
        rows), still as ``dataChange: false``.

        ``partition_predicate`` (SQL over partition columns) scopes the
        maintenance to matching partitions — Delta's ``OPTIMIZE WHERE``:
        at 100 TB you compact/cluster the partitions that churned, not
        the whole table.

        ``cluster_by`` lays rows out along the HILBERT curve instead of
        the z-curve (liquid clustering's layout: no diagonal jumps, so
        per-file [min, max] is strictly tighter on every key).  When
        neither ``zorder_by`` nor ``cluster_by`` is given and the table
        DECLARES clustering (:meth:`set_cluster_by`), the declared
        columns apply automatically — Delta's ``OPTIMIZE`` semantics on
        a clustered table.  Clustered OPTIMIZE is INCREMENTAL by
        default: already-clustered files (tagged by a prior rewrite
        under the same keys) stay put and only new data rewrites —
        O(new data), not O(table), per maintenance pass.  ``full=True``
        forces a whole-table re-cluster (``OPTIMIZE FULL``)."""
        import math as _math

        from .delta_log import _prune_partitions, snapshot_files

        if zorder_by is not None and cluster_by is not None:
            raise ValueError(
                "zorder_by and cluster_by are mutually exclusive"
            )
        if zorder_by is None and cluster_by is None:
            cluster_by = self._clustering_columns()
        meta, _types, data_schema = self._data_schema()
        if target_file_bytes is None:
            # per-table policy wins over the 128 MB default (K2: the
            # reference sets Kusto merge policies; here the knob lives
            # in TBLPROPERTIES and the engine honors it)
            raw = ((meta or {}).get("configuration") or {}).get(
                "mlk.optimize.targetFileBytes"
            )
            try:
                target_file_bytes = int(raw) if raw else 128 << 20
            except ValueError:
                raise ValueError(
                    "table property mlk.optimize.targetFileBytes is not "
                    f"an integer: {raw!r} — fix it with set_properties"
                ) from None
        now = int(time.time() * 1000)
        hilbert = zorder_by is None and bool(cluster_by)
        zcols = list(zorder_by or cluster_by or [])
        if zcols:
            if data_schema is None:
                return self._commit([])
            missing = [c for c in zcols if c not in data_schema.names]
            if missing:
                raise ValueError(
                    f"{'cluster_by' if hilbert else 'zorder_by'} columns "
                    f"{missing} are not data columns "
                    "(partition columns are already file-separated)"
                )
        # one log walk, shared by bounds (stats fold) and the groups
        files = snapshot_files(self.spark, self.path)
        self._require_no_dvs("OPTIMIZE", files)
        if zcols:
            bounds = self._zorder_bounds(zcols, data_schema, files)
        if partition_predicate is not None and files and meta is not None:
            files = _prune_partitions(
                self.spark, files, meta, partition_predicate
            )
        cluster_tag = ",".join(zcols) if hilbert else None
        actions: list[dict] = []
        for files in _by_partition(files):
            if hilbert and not full:
                # INCREMENTAL clustering (the liquid model, and the
                # 100 TB requirement): files a previous CLUSTER BY
                # rewrite produced under the SAME key set are already
                # tight and stay put; only new/unclustered files (and
                # files clustered under different keys) rewrite.
                # Generations may overlap in key space — that is the
                # accepted trade for O(new data) maintenance instead
                # of O(table); pass full=True to re-cluster everything.
                # EXCEPTION: clustered files well under the target
                # size (write-time clustering emits one small
                # generation per append) re-enter the rewrite — they
                # compact together along the curve and then stay put,
                # so repeated small appends converge instead of
                # accumulating a small-file tail forever.
                floor = target_file_bytes // 4
                files = [
                    f
                    for f in files
                    if (f.get("tags") or {}).get("MLK_CLUSTERED_BY")
                    != cluster_tag
                    or (f["size"] or 0) < floor
                ]
                if len(files) <= 1 and all(
                    (f.get("tags") or {}).get("MLK_CLUSTERED_BY")
                    == cluster_tag
                    for f in files
                ):
                    continue  # one small clustered file alone: no-op
                if not files:
                    continue
            total = sum(f["size"] or 0 for f in files)
            n_out = max(1, _math.ceil(total / target_file_bytes))
            if not zcols and len(files) <= n_out:
                continue
            if zcols:
                from .skipping import hilbert_column, zvalue_column

                curve = hilbert_column if hilbert else zvalue_column

                def transform(df, n=n_out, s=data_schema, b=bounds):
                    z = curve(zcols, b, s)
                    out = df.withColumn("_mlk_z", z)
                    if n > 1:
                        out = out.repartitionByRange(n, "_mlk_z")
                    else:
                        out = out.coalesce(1)
                    return out.sortWithinPartitions("_mlk_z").drop("_mlk_z")
            else:
                def transform(df, n=n_out):
                    return df.coalesce(n)
            actions.extend(
                self._rewrite_group(
                    files,
                    meta,
                    transform,
                    data_change=False,
                    now=now,
                    tags={"MLK_CLUSTERED_BY": cluster_tag}
                    if cluster_tag
                    else None,
                )
            )
        return self._commit(
            actions,
            operation="OPTIMIZE CLUSTER BY"
            if (zcols and hilbert)
            else "OPTIMIZE ZORDER"
            if zcols
            else "OPTIMIZE",
        )

    def _zorder_bounds(
        self, zcols, data_schema, files=None
    ) -> dict[str, tuple[float, float]]:
        """Global [min, max] of each curve column's numeric proxy.

        Fast path: fold the PER-FILE min/max stats already sitting in
        the add actions — pure driver metadata, O(files), no data
        read.  This is what keeps an INCREMENTAL clustered OPTIMIZE
        from paying an O(table) bounds scan at 100 TB just to rewrite
        a 1% delta.  Falls back to one column-pruned aggregate over
        the snapshot when any non-empty file lacks min/max for a
        needed column (decimals, NaN-poisoned doubles, truncated
        strings).  Bounds only scale the curve — stats-exact and
        scan-exact bounds cluster identically."""
        import pyspark.sql.functions as F

        from .skipping import bounds_from_file_stats, numeric_proxy

        type_of = {f.name: f.dataType for f in data_schema.fields}
        if files is not None:
            got = bounds_from_file_stats(zcols, type_of, files)
            if got is not None:
                return got
        df = self.to_df().select(
            *[numeric_proxy(c, type_of[c]).alias(c) for c in zcols]
        )
        row = df.agg(
            *[F.min(c).alias(f"lo_{c}") for c in zcols],
            *[F.max(c).alias(f"hi_{c}") for c in zcols],
        ).collect()[0]
        return {
            c: (
                row[f"lo_{c}"] if row[f"lo_{c}"] is not None else 0.0,
                row[f"hi_{c}"] if row[f"hi_{c}"] is not None else 0.0,
            )
            for c in zcols
        }

    def vacuum(self, retention_hours: float | None = None) -> dict:
        """Physically delete data files no longer referenced by the
        current snapshot, and truncate commit JSONs older than the last
        checkpoint (Delta's VACUUM + metadata cleanup).  After this,
        readers MUST take the checkpoint path (O1) and incremental
        consumers past the truncation point must snapshot-diff (C2) —
        both exercised in tests.

        ``retention_hours`` is Delta's ``VACUUM ... RETAIN N HOURS``
        window: an unreferenced file is deleted only once its
        tombstone (the remove action's deletionTimestamp; file mtime
        as the fallback for untracked garbage like superseded DV
        bins) is older than the window — so time travel within the
        window and in-flight readers keep working, exactly the
        guarantee Delta's default 168 h exists for.  Commit JSONs
        that still carry an in-window tombstone survive the metadata
        truncation too (they are below the checkpoint, so replay
        ignores them; they persist only to keep the tombstone clock
        honest for the NEXT vacuum).  ``None`` keeps this sink's
        historical aggressive default (retain nothing) — fine for
        single-writer mirror targets whose readers replay from the
        checkpoint, wrong for shared production tables: pass 168
        there."""
        from .delta_log import read_last_checkpoint, snapshot_files

        from . import dv as _dv

        retention_ms = int((retention_hours or 0.0) * 3_600_000)
        cutoff = int(time.time() * 1000) - retention_ms
        ckpt = read_last_checkpoint(self.path)
        # ONE pass over the commit JSONs collects both the tombstone
        # clocks (retention) and the cdc references — these files can
        # live on slow object storage, so vacuum must not parse the
        # log twice
        from .delta_log import _read_commit

        tomb: dict[str, int] = {}
        commit_rm_ts: dict[int, int] = {}
        cdc_by_commit: dict[int, set] = {}
        for v in _list_versions(self.path):
            if retention_ms <= 0 and ckpt is not None and v <= ckpt:
                # no retention: this commit truncates below, so its
                # cdc files are garbage and its removes irrelevant
                continue
            for act in _read_commit(self.path, v):
                if retention_ms > 0:
                    r = act.get("remove")
                    if r and r.get("path"):
                        ts = int(r.get("deletionTimestamp") or 0)
                        tomb[r["path"]] = max(tomb.get(r["path"], 0), ts)
                        commit_rm_ts[v] = max(commit_rm_ts.get(v, 0), ts)
                c = act.get("cdc")
                if c is not None:
                    cdc_by_commit.setdefault(v, set()).add(c["path"])

        def _expired(rel: str, full: str) -> bool:
            """True when the unreferenced file's tombstone clock (or
            mtime, for untracked garbage) has left the window."""
            if retention_ms <= 0:
                return True
            ts = tomb.get(rel)
            if ts is None:
                try:
                    ts = self.fs.getmtime_ms(full)
                except OSError:
                    return False
            return ts < cutoff

        snap = snapshot_files(self.spark, self.path)
        live = {f["path"] for f in snap}
        # deletion-vector .bin files referenced by live adds must
        # survive; superseded ones (older DV generations) are garbage
        live_dv = {
            _dv.dv_file_rel_path(f["deletionVector"])
            for f in snap
            if (f.get("deletionVector") or {}).get("cardinality")
        } - {None}
        # change-data files referenced by commits that SURVIVE the
        # metadata truncation below must survive too (they are never in
        # the snapshot's live set — the feed for the retained span
        # would silently vanish); cdc files of truncated commits are
        # garbage like their commits
        live_cdc: set[str] = set()
        for v, paths in cdc_by_commit.items():
            if (
                ckpt is None
                or v > ckpt
                or commit_rm_ts.get(v, 0) >= cutoff
            ):
                live_cdc |= paths
        removed_data = 0
        root = self.path.rstrip("/")
        for dirpath, _dirs, files in self.fs.walk(self.path):
            if "_delta_log" in dirpath or "_staging_" in dirpath:
                continue
            for name in files:
                full = _fs.join(dirpath, name)
                rel = full[len(root):].lstrip("/")
                if rel.startswith("_change_data/"):
                    if (
                        name.endswith(".parquet")
                        and rel not in live_cdc
                        and _expired(rel, full)
                    ):
                        self.fs.remove(full)
                        removed_data += 1
                    continue
                if (
                    name.endswith(".parquet")
                    and rel not in live
                    and _expired(rel, full)
                ):
                    self.fs.remove(full)
                    removed_data += 1
                elif (
                    name.startswith("deletion_vector_")
                    and name.endswith(".bin")
                    and rel not in live_dv
                    and _expired(rel, full)
                ):
                    self.fs.remove(full)
                    removed_data += 1
        removed_commits = 0
        if ckpt is not None:
            for v in _list_versions(self.path):
                if v <= ckpt and commit_rm_ts.get(v, 0) < cutoff:
                    self.fs.remove(
                        _fs.join(_log_dir(self.path), TX_FMT.format(v) + ".json")
                    )
                    removed_commits += 1
        return {"data_files": removed_data, "log_files": removed_commits}

    # -- reads --------------------------------------------------------------

    def to_df(
        self,
        partition_predicate: str | None = None,
        version: int | None = None,
        predicate: str | None = None,
    ) -> DataFrame:
        """Snapshot read (log replay + partition-injected scan);
        ``partition_predicate`` prunes partition groups before any data
        file is opened (O6); ``predicate`` additionally skips files via
        per-file min/max stats then row-filters (data skipping);
        ``version`` time-travels to that commit (files must not have
        been vacuumed since)."""
        from .delta_log import read_snapshot

        return read_snapshot(
            self.spark,
            self.path,
            upto=version,
            partition_predicate=partition_predicate,
            predicate=predicate,
        )

    def detail(self) -> DataFrame:
        """DESCRIBE DETAIL: one row of table-level metadata — format,
        id, location, createdTime, partition/clustering columns, live
        file count + bytes, properties, and the protocol (versions +
        table features).  Pure driver-side metadata: the file
        count/size folds over the snapshot's add actions, never the
        data (Delta's utility of the same name)."""
        from .delta_log import (
            latest_metadata,
            latest_protocol,
            snapshot_files,
        )

        meta = latest_metadata(self.spark, self.path) or {}
        proto = latest_protocol(self.path) or {}
        files = snapshot_files(self.spark, self.path)
        feats = sorted(
            set(proto.get("readerFeatures") or [])
            | set(proto.get("writerFeatures") or [])
        )
        row = {
            "format": (meta.get("format") or {}).get("provider")
            or "parquet",
            "id": meta.get("id"),
            "location": self.path,
            "createdAt": meta.get("createdTime"),
            "partitionColumns": list(meta.get("partitionColumns") or []),
            "clusteringColumns": self._clustering_columns() or [],
            "numFiles": len(files),
            "sizeInBytes": sum(f["size"] or 0 for f in files),
            "properties": dict(meta.get("configuration") or {}),
            "minReaderVersion": proto.get("minReaderVersion") or 1,
            "minWriterVersion": proto.get("minWriterVersion") or 2,
            "tableFeatures": feats,
        }
        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            LongType,
            MapType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("format", StringType()),
                StructField("id", StringType()),
                StructField("location", StringType()),
                StructField("createdAt", LongType()),
                StructField("partitionColumns", ArrayType(StringType())),
                StructField("clusteringColumns", ArrayType(StringType())),
                StructField("numFiles", LongType()),
                StructField("sizeInBytes", LongType()),
                StructField(
                    "properties", MapType(StringType(), StringType())
                ),
                StructField("minReaderVersion", IntegerType()),
                StructField("minWriterVersion", IntegerType()),
                StructField("tableFeatures", ArrayType(StringType())),
            ]
        )
        return self.spark.createDataFrame([row], schema)

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY: one row per retained commit — version,
        commitInfo timestamp/operation (null for commits written before
        operations were recorded), add/remove counts.  Pure driver-side
        metadata over the log; O(commits)."""
        rows = []
        for v in _list_versions(self.path):
            info = {"timestamp": None, "operation": None}
            n_add = n_remove = 0
            text = self.fs.read_text(
                _fs.join(_log_dir(self.path), TX_FMT.format(v) + ".json")
            )
            for line in text.splitlines():
                if not line.strip():
                    continue
                act = json.loads(line)
                if "commitInfo" in act:
                    info = act["commitInfo"]
                n_add += "add" in act
                n_remove += "remove" in act
            rows.append(
                (
                    v,
                    info.get("timestamp"),
                    info.get("operation"),
                    n_add,
                    n_remove,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version long, timestamp long, operation string, "
            "n_adds long, n_removes long",
        )

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION: one commit whose adds/removes turn
        the current snapshot back into the snapshot at ``version`` —
        metadata-only when the old data files still exist (raises if
        any was vacuumed).  The restore itself is a new commit, so
        history moves forward (Delta's RESTORE semantics); the schema
        recorded at ``version`` is re-recorded when it differs."""
        from .delta_log import latest_metadata, snapshot_files

        now = int(time.time() * 1000)
        target = {f["path"]: f for f in snapshot_files(self.spark, self.path, upto=version)}
        current = {f["path"]: f for f in snapshot_files(self.spark, self.path)}
        def _dv_key(f):
            d = f.get("deletionVector") or {}
            return (d.get("pathOrInlineDv"), d.get("offset")) if d.get(
                "cardinality"
            ) else None

        actions: list[dict] = []
        for p, f in target.items():
            if p in current and _dv_key(current[p]) == _dv_key(f):
                continue
            full = _fs.join(self.path, p)
            if not self.fs.exists(full):
                raise ValueError(
                    f"cannot restore to {version}: file {p} was vacuumed"
                )
            add = {
                "path": p,
                "partitionValues": f["partitionValues"] or {},
                "size": f["size"],
                "modificationTime": now,
                "dataChange": True,
                "stats": f.get("stats"),
            }
            if (f.get("deletionVector") or {}).get("cardinality"):
                # the historical snapshot's merge-on-read state restores
                # verbatim — dropping the DV would resurrect its rows
                add["deletionVector"] = dict(f["deletionVector"])
            if f.get("tags"):
                # clustered-provenance tags restore with the file, so
                # the next incremental OPTIMIZE doesn't re-cluster it
                add["tags"] = dict(f["tags"])
            actions.append({"add": add})
        for p, f in current.items():
            if p in target and _dv_key(target[p]) == _dv_key(f):
                continue
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now,
                        "dataChange": True,
                        "partitionValues": f["partitionValues"] or {},
                    }
                }
            )
        old_meta = latest_metadata(self.spark, self.path, upto=version)
        if old_meta is not None:
            # re-record the historical schema if it has since changed
            self._pending_schema = old_meta["schemaString"]
        return self._commit(actions, operation=f"RESTORE (version={version})")

    def changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Batch change feed (Delta CDF analogue): data rows +
        ``_change_type`` (insert/delete) + ``_commit_version`` for the
        commit span — see ``delta_log.read_changes``."""
        from .delta_log import read_changes

        return read_changes(self.spark, self.path, from_version, to_version)

    @classmethod
    def convert(
        cls,
        spark: SparkSession,
        table_path: str,
        checkpoint_interval: int = 10,
    ) -> "DeltaSink":
        """CONVERT TO DELTA: author a Delta log IN PLACE over an
        existing plain-parquet directory (flat or hive-partitioned
        ``k=v`` layout) — the public Delta migration entry point.

        Data files are NOT rewritten or moved: the commit lists every
        existing parquet file as an add action with full footer stats
        (so data skipping works immediately), and hive partition
        directories become Delta partition columns.  O(files) driver
        metadata, zero data movement — which is the entire point at
        100 TB: conversion cost is a directory walk plus one commit.
        After conversion the table is a first-class engine citizen:
        append/delete/merge/optimize/time-travel, a mirrorable source,
        and a change-feed producer.

        Mixed layouts (some files under ``k=v`` dirs, some not) raise —
        a silent guess would scatter rows across wrong partitions.
        """
        if _list_versions(table_path):
            raise ValueError(f"{table_path} is already a Delta table")
        now = int(time.time() * 1000)
        entries: list[tuple[str, dict]] = []  # (relpath, partitionValues)
        part_keys: list[str] | None = None
        cfs = _fs.get_fs(table_path)
        croot = table_path.rstrip("/")
        for dirpath, dirs, names in cfs.walk(table_path):
            dirs[:] = [d for d in dirs if not d.startswith("_")]
            rel_dir = dirpath[len(croot):].strip("/") or "."
            segs = [] if rel_dir == "." else rel_dir.split("/")
            hive = all("=" in s for s in segs)
            pv = hive_partition_values(rel_dir) if segs and hive else {}
            for name in sorted(names):
                if not name.endswith(".parquet") or name.startswith("_"):
                    continue
                if segs and not hive:
                    raise ValueError(
                        f"non-hive nested layout at {rel_dir!r} — cannot "
                        "infer partition values"
                    )
                keys = list(pv)
                if part_keys is None:
                    part_keys = keys
                elif keys != part_keys:
                    raise ValueError(
                        f"inconsistent partition depth: {keys} vs "
                        f"{part_keys}"
                    )
                entries.append(
                    ("/".join([*segs, name]) if segs else name, pv)
                )
        if not entries:
            raise ValueError(f"no parquet files under {table_path}")
        # schema inference: Spark's reader resolves hive partition
        # columns + data columns in one pass (types from dir values)
        schema = spark.read.parquet(table_path).schema
        sink = cls(
            spark,
            table_path,
            partition_by=part_keys or (),
            checkpoint_interval=checkpoint_interval,
        )
        sink._pending_schema = schema.json()
        adds = []
        for rel, pv in entries:
            full = _fs.join(table_path, rel)
            meta = _fs.parquet_metadata(full)
            adds.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": pv,
                        "size": cfs.getsize(full),
                        "modificationTime": now,
                        "dataChange": True,
                        "stats": file_stats_json(meta),
                    }
                }
            )
        sink._commit(adds, operation="CONVERT")
        return sink

    @classmethod
    def shallow_clone(
        cls,
        spark: SparkSession,
        source_path: str,
        target_path: str,
        version: int | None = None,
        checkpoint_interval: int = 10,
    ) -> "DeltaSink":
        """SHALLOW CLONE (Delta's zero-copy table copy): the target's
        first commit references the source snapshot's data files by
        ABSOLUTE path — no data moves, the clone is writable
        immediately, and source and clone evolve independently from
        that point (copy-on-write delete/merge on the clone rewrite
        into the clone's own directory; the source never changes).

        ``version`` clones a historical snapshot (time-travel clone).

        At 100 TB this is the dev/test/experiment idiom: a full-table
        sandbox for the cost of one metadata commit.  Safety: the
        clone's ``vacuum`` walks only the clone's directory, so it can
        never delete source files; conversely vacuuming the SOURCE can
        break clones that still reference removed files — the same
        documented caveat as Delta's own shallow clones."""
        if _list_versions(target_path):
            raise ValueError(f"{target_path} is already a Delta table")
        from .delta_log import latest_metadata, snapshot_files

        files = snapshot_files(spark, source_path, upto=version)
        meta = latest_metadata(spark, source_path, upto=version)
        if meta is None:
            raise ValueError(f"no Delta table at {source_path}")
        sink = cls(
            spark,
            target_path,
            partition_by=list(meta.get("partitionColumns") or []),
            checkpoint_interval=checkpoint_interval,
        )
        sink._pending_schema = meta["schemaString"]
        # real Delta shallow clones copy table properties — so do we
        sink._pending_configuration = dict(meta.get("configuration") or {})
        now = int(time.time() * 1000)
        src_abs = (
            source_path.rstrip("/")
            if _fs.scheme_of(source_path)
            else os.path.abspath(source_path)
        )
        adds = []
        for f in files:
            stats = f.get("stats")
            if not stats and f.get("numRecords") is not None:
                # legacy count-only files: keep the row count so the
                # clone's skipping/observability paths see it
                stats = json.dumps({"numRecords": f["numRecords"]})
            adds.append(
                {
                    "add": {
                        "path": _fs.join(src_abs, f["path"]),
                        "partitionValues": f.get("partitionValues") or {},
                        "size": f.get("size"),
                        "modificationTime": now,
                        "dataChange": True,
                        "stats": stats,
                    }
                }
            )
        sink._commit(adds, operation="CLONE (shallow)")
        return sink
