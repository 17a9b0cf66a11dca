"""Versioned tables: atomic multi-table commits over vanilla parquet.

The reference gets atomicity from Postgres transactions
(``$transaction``, src/db/client/effect.ts:369-396).  Plain parquet
overwrites are NOT atomic — a reader racing a rewrite sees partial
state, and a failed job corrupts the table.  The standard lake answer is
a transaction log (Delta/Iceberg); this module implements the minimal
honest version of the same idea so the engine's mutation transforms
(operators/mutations.py) can be committed transactionally:

* every write lands in a fresh ``<root>/<table>/v=<n>/`` directory
  (copy-on-write — never in place, never reused);
* the :class:`Catalog` log ``<root>/_CATALOG/commit-<n>.json`` is the
  ONLY commit point: each commit file names every table's committed
  version, so one file create publishes any number of tables at once;
* a version dir no commit names is invisible — a crash before the
  commit leaves readers on the old head, and ``Catalog.vacuum``
  reclaims what the head no longer needs.

At 100 TB the same design holds: data writes are the heavy distributed
part and remain parallel; the commit point is one small file create
(object stores: one conditional PUT), exactly how real table formats
commit.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SCHEMA = "_schema.json"
# contended commit attempts before Transaction.commit gives up
_COMMIT_ATTEMPTS = 10


def _versions(table_dir: str) -> list[int]:
    """Every ``v=<n>`` number on disk, ascending."""
    return sorted(
        int(d[2:]) for d in os.listdir(table_dir)
        if d.startswith("v=") and d[2:].isdigit()
    )


def write_version(df: DataFrame, table_dir: str) -> int:
    """Write ``df`` as the next version directory WITHOUT committing it.
    Returns the staged version number.  Version dirs are never reused,
    so the next number is one past the largest on disk — committed,
    staged or orphaned alike."""
    os.makedirs(table_dir, exist_ok=True)
    nxt = 1 + max(_versions(table_dir), default=-1)
    path = os.path.join(table_dir, f"v={nxt}")
    df.write.mode("errorifexists").parquet(path)
    # readers take the schema from here instead of a footer-inference job;
    # Spark's file index skips ``_``-prefixed files
    with open(os.path.join(path, _SCHEMA), "w") as f:
        f.write(df.schema.json())
    return nxt


def _read_dir(spark: SparkSession, path: str) -> DataFrame:
    """Read a version dir with the schema ``write_version`` left beside
    it, so building the read launches no footer-inference job."""
    sidecar = os.path.join(path, _SCHEMA)
    if not os.path.exists(sidecar):  # older dirs: infer
        return spark.read.parquet(path)
    with open(sidecar) as f:
        return spark.read.schema(StructType.fromJson(json.load(f))).parquet(path)


def read_version(spark: SparkSession, table_dir: str, version: int) -> DataFrame:
    """Time-travel read of a specific committed-or-staged version.

    Version dirs are immutable once written, so any retained version is
    readable forever (until ``Catalog.vacuum`` reclaims it) — the AS
    OF semantics Delta/Iceberg expose, at directory-path cost (gated by
    q206)."""
    path = os.path.join(table_dir, f"v={version}")
    if not os.path.exists(path):
        raise FileNotFoundError(f"version {version} not found in {table_dir}")
    return _read_dir(spark, path)


class CommitConflict(RuntimeError):
    """Another writer committed an overlapping table first; the losing
    transaction's staged versions stay unpublished (data is immutable,
    so abort = do nothing — ``Catalog.vacuum`` reclaims the orphan
    dirs)."""


class Catalog:
    """Cross-writer atomic multi-table commits over versioned tables.

    A reader must never see table A new and table B old (reference
    semantics: Postgres ``$transaction``, src/db/client/effect.ts:
    369-396).  The standard lake answer is a single commit LOG at the
    catalog level (Delta's _delta_log / Iceberg's catalog swap),
    implemented here in its minimal honest form:

    * ``_CATALOG/commit-<n>.json`` holds the FULL {table: version}
      snapshot — readers resolve every table from ONE commit file, so
      a multi-table commit is visible all-or-nothing;
    * a commit is published by hard-linking a fully-written temp file
      onto the next numbered name (``os.link`` raises
      ``FileExistsError`` like ``O_EXCL``) — the filesystem arbitrates
      racing writers AND a visible commit file is always complete, so
      readers can never observe a torn head (object stores: a
      conditional PUT of the finished object), no lock server;
    * optimistic concurrency: a loser whose tables are DISJOINT from
      the winner's rebases onto the new head and retries; an overlap
      raises :class:`CommitConflict` and nothing it staged is ever
      visible — snapshot isolation with write-write conflict
      detection, the same contract Delta/Iceberg give.

    At 100 TB the heavy distributed writes all happen before the
    commit point; the commit itself is one tiny file create regardless
    of data volume.
    """

    # Stale uncommitted head files: a writer crashing between writing
    # .tmp-commit-* and os.unlink leaves an orphan nothing else ever
    # reclaims (r5 ADVICE).  A LIVE writer's tmp exists only for the
    # instant between write and link/unlink, so anything older than
    # this is a crash remnant.
    _TMP_REAP_AGE_SEC = 600.0

    def __init__(self, root: str) -> None:
        self.root = root
        self._log = os.path.join(root, "_CATALOG")
        os.makedirs(self._log, exist_ok=True)
        self._sweep_stale_tmp()

    def _sweep_stale_tmp(self) -> list[str]:
        import time

        removed = []
        cutoff = time.time() - self._TMP_REAP_AGE_SEC
        for f in os.listdir(self._log):
            if not f.startswith(".tmp-commit-"):
                continue
            p = os.path.join(self._log, f)
            try:
                if os.path.getmtime(p) < cutoff:
                    os.unlink(p)
                    removed.append(p)
            except FileNotFoundError:
                pass  # another sweeper won the race
        return removed

    def _commit_ids(self) -> list[int]:
        return sorted(
            int(f.split("-", 1)[1].split(".", 1)[0])
            for f in os.listdir(self._log)
            if f.startswith("commit-") and f.endswith(".json")
        )

    def snapshot(self) -> tuple[int, dict[str, int]]:
        """(commit_id, {table: version}) at the current head; (-1, {})
        on an empty catalog."""
        ids = self._commit_ids()
        if not ids:
            return -1, {}
        with open(os.path.join(self._log, f"commit-{ids[-1]}.json")) as f:
            return ids[-1], json.load(f)["tables"]

    def read(self, spark: SparkSession, table: str,
             snapshot: tuple[int, dict[str, int]] | None = None) -> DataFrame:
        """Read ``table`` at a snapshot (default: current head) — every
        table a reader resolves from one snapshot is mutually
        consistent."""
        _, tables = snapshot if snapshot is not None else self.snapshot()
        if table not in tables:
            raise FileNotFoundError(f"table {table!r} not in catalog")
        return read_version(spark, os.path.join(self.root, table), tables[table])

    def transaction(self) -> "Transaction":
        return Transaction(self)

    def vacuum(self, table: str) -> list[str]:
        """Delete every version of ``table`` older than the head's.  The
        head and anything newer stay — a newer version may be a live
        writer's staged data.  Returns the removed paths."""
        _, tables = self.snapshot()
        if table not in tables:
            raise FileNotFoundError(f"table {table!r} not in catalog")
        table_dir = os.path.join(self.root, table)
        removed = []
        for v in _versions(table_dir):
            if v < tables[table]:
                p = os.path.join(table_dir, f"v={v}")
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
        return removed


class Transaction:
    """Stage writes against a base snapshot, then commit atomically."""

    def __init__(self, catalog: Catalog) -> None:
        self.catalog = catalog
        self.base_id, self.base = catalog.snapshot()
        self._staged: dict[str, int] = {}

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Read at the transaction's base snapshot (repeatable reads)."""
        return self.catalog.read(spark, table, (self.base_id, self.base))

    def stage(self, table: str, df: DataFrame) -> int:
        """Write ``df`` as an unpublished version of ``table``; visible
        to nobody until :meth:`commit` succeeds."""
        v = write_version(df, os.path.join(self.catalog.root, table))
        self._staged[table] = v
        return v

    def commit(self) -> int:
        """Publish every staged table in ONE atomic commit file.

        Retries with rebase while intervening commits touch only
        disjoint tables; raises :class:`CommitConflict` when a
        concurrent writer committed one of OUR tables first."""
        if not self._staged:
            return self.base_id
        attempt_base_id, attempt_base = self.base_id, dict(self.base)
        for _ in range(_COMMIT_ATTEMPTS):
            head_id, head = self.catalog.snapshot()
            if head_id != attempt_base_id:
                changed = {
                    t for t in head
                    if head.get(t) != attempt_base.get(t)
                }
                if changed & set(self._staged):
                    raise CommitConflict(
                        f"tables {sorted(changed & set(self._staged))} "
                        f"changed by a concurrent commit"
                    )
                attempt_base_id, attempt_base = head_id, head
            tables = {**attempt_base, **self._staged}
            path = os.path.join(
                self.catalog._log, f"commit-{attempt_base_id + 1}.json"
            )
            # Write the snapshot to a hidden temp file FIRST, then publish
            # it with os.link — an exclusive primitive like O_EXCL, but the
            # file is complete before it becomes visible, so a racing
            # snapshot() can never json.load a torn commit head (object
            # stores: a conditional PUT of the finished object).
            tmp = os.path.join(
                self.catalog._log, f".tmp-commit-{uuid.uuid4().hex}"
            )
            with open(tmp, "w") as f:
                json.dump({"tables": tables}, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, path)
            except FileExistsError:
                os.unlink(tmp)
                continue  # lost the race — re-examine the new head
            except OSError:
                # Filesystem without hard-link support (some FUSE/NFS/
                # object-store mounts, FAT): fall back to O_EXCL create
                # + single write of the already-serialized head.  The
                # torn-head window is one write() syscall — accepted on
                # such filesystems (r5 ADVICE).
                try:
                    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                except FileExistsError:
                    os.unlink(tmp)
                    continue  # lost the race — re-examine the new head
                with open(tmp, "rb") as src, os.fdopen(fd, "wb") as dst:
                    dst.write(src.read())
                    dst.flush()
                    os.fsync(dst.fileno())
            os.unlink(tmp)
            return attempt_base_id + 1
        raise CommitConflict(f"gave up after {_COMMIT_ATTEMPTS} contended attempts")

