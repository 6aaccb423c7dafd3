"""Snapshot table-format seam: where Delta/Iceberg would plug in.

``BASELINE``-grade deployments want a real ACID table format (snapshot
isolation for concurrent readers, time travel). This container has no
Delta/Iceberg jars, so the shipped implementation is the write-id marker
protocol over plain parquet (:class:`WriteIdParquetFormat`) — but every
snapshot read/append/recover in :class:`~.ingest.IngestJob` goes through
this interface, so a log-based format drops in as one new class:

- ``DeltaFormat.append`` would be ``df.write.format("delta")
  .mode("append")`` (atomicity from the transaction log — no markers,
  no publish renames) and ``recover`` a no-op;
- ``read`` would be ``spark.read.format("delta")`` and time travel
  ``option("versionAsOf", ...)`` — which :meth:`WriteIdParquetFormat.
  read_as_of` already provides over plain parquet (committed-write-id
  file listing), together with snapshot-isolated committed-only reads.

The interface is deliberately tiny — read / append / recover — because
that is the entire surface the ingest plan needs from storage; retention
partition drops stay in ``operators/retention.py`` (metadata-only either
way).

Beyond the seam, the module now ships the full Delta-analog surface on
plain parquet: DESCRIBE HISTORY (``versions``), time travel + snapshot
isolation (``read_as_of``), change feed (``diff_versions``), RESTORE
(``restore_to_version``), VACUUM, transactional rewrites
(``rewrite_table`` → OPTIMIZE ZORDER / MERGE / DELETE WHERE), and
per-file stats and bloom manifests with pruned reads. Atomicity
throughout comes from two primitives: prefix-named data files whose
commit is a marker row, and ``Ledger.append_many`` writing a composite
transition as one parquet file, which a rename (or, for a put-if-absent
commit, a hard link) makes visible whole. Both ledger reads and writes
run on the driver, so a commit marker costs no Spark job.

**Single-writer limit.** The write-id protocol gives snapshot isolation
to any number of concurrent READERS (a mid-publish write-id has no
commit marker, so committed reads never list its files), but there is
no multi-writer commit arbitration: two jobs appending the same
warehouse concurrently would interleave ledger batches, and two
concurrent ``rewrite_table`` calls would each tombstone the other's
base version (Delta solves this with optimistic concurrency over a
transaction log; this container has no such log). The supported
deployment is ONE writer per warehouse at a time, enforced cheaply by
:class:`WriterLease` — an atomically-created (``O_CREAT|O_EXCL``) lease
file that makes the second concurrent writer fail LOUDLY
(:class:`ConcurrentWriterError`) instead of silently corrupting
history. A crashed writer's stale lease expires after ``ttl_s`` and is
stolen by the next acquirer. ``IngestJob.run`` takes the lease for the
duration of each cycle.
"""

from __future__ import annotations

import errno
import os
import shutil
import time
import uuid
from abc import ABC, abstractmethod
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from datawarehouse_backup_system_spark import ledger as ledger_mod
from datawarehouse_backup_system_spark.ledger import Ledger


class ConcurrentWriterError(RuntimeError):
    """Another live writer holds this warehouse's lease (see the
    single-writer limit in the module docstring)."""


class VersionConflictError(RuntimeError):
    """The table advanced past the version a rewrite was planned
    against (optimistic concurrency check in :func:`rewrite_table`) —
    re-read and retry, Delta-style."""


class WriterLease:
    """Exclusive writer lease over a warehouse dir (see module
    docstring: the write-id format is single-writer by design; this
    makes the second writer fail loudly instead of interleaving).

    Acquisition is one atomic ``O_CREAT|O_EXCL`` create of
    ``<warehouse>/_writer.lease`` holding an owner token — the same
    create-if-absent primitive object stores expose (S3 conditional
    PUT), so the mechanism ports. A lease older than ``ttl_s`` is
    presumed crashed and stolen. Release only removes the file if it
    still carries OUR token (a stolen-then-reacquired lease is never
    clobbered by the original owner's late release).

    Use as a context manager::

        with WriterLease(warehouse_dir):
            job.run(input_dir)
    """

    def __init__(self, warehouse_dir: Path, owner: str | None = None,
                 ttl_s: float = 3600.0) -> None:
        self.path = Path(warehouse_dir) / "_writer.lease"
        self.owner = owner or f"{uuid.uuid4().hex[:16]}"
        self.ttl_s = ttl_s
        self._held = False

    def acquire(self) -> "WriterLease":
        self.path.parent.mkdir(parents=True, exist_ok=True)
        # age out old displaced-lease forensic files (review r8: they
        # were write-only). A day is far past any debugging window and
        # far past any TTL a live writer could still be running under.
        now = time.time()
        # age out ALL lease forensic debris (review r11: the old glob
        # covered only the stale-steal path; release-path tombs and
        # displaced tokens accumulated forever). A day is far past any
        # debugging window or live TTL; the canonical '_writer.lease'
        # itself never matches these dotted patterns.
        for pat in (
            "_writer.lease.stale.*",
            "_writer.lease.release.*",
        ):
            for d in self.path.parent.glob(pat):
                try:
                    if now - d.stat().st_mtime > 86_400:
                        d.unlink(missing_ok=True)
                except OSError:
                    pass
        for attempt in (0, 1):
            try:
                fd = os.open(
                    self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                with os.fdopen(fd, "w") as fh:
                    fh.write(self.owner)
                self._held = True
                return self
            except FileExistsError:
                try:
                    age = time.time() - self.path.stat().st_mtime
                    holder = self.path.read_text()
                except OSError:
                    continue  # racing release — retry the create
                if attempt == 0 and age >= self.ttl_s:
                    # stale (crashed writer): steal by RENAMING the stale
                    # lease to a unique tombstone — rename is atomic and
                    # fails with FileNotFoundError if another stealer got
                    # there first, so exactly one stealer proceeds to
                    # re-race the O_EXCL create (unlink-then-create has a
                    # window where we could unlink a FRESH lease another
                    # stealer just wrote; ADVICE r5)
                    tomb = self.path.with_name(
                        f"_writer.lease.stale.{self.owner}"
                    )
                    try:
                        os.rename(self.path, tomb)
                    except OSError:
                        continue  # lost the steal race — retry create
                    # rename succeeds on WHATEVER is at self.path — if
                    # another stealer tombstoned the stale lease and
                    # re-created a FRESH one between our read and our
                    # rename, we just renamed that fresh lease away.
                    # Verify the tombstone still carries the stale
                    # holder token we observed; if not, restore it with
                    # link (atomic, no-clobber — never overwrites a
                    # lease a third writer created meanwhile) and treat
                    # the steal as lost. Residual 3-writer window is
                    # backstopped by the commit-point OCC re-check.
                    try:
                        stolen = tomb.read_text()
                    except OSError:
                        stolen = ""
                    if stolen != holder:
                        try:
                            os.link(tomb, self.path)
                        except OSError as exc:
                            if exc.errno != errno.EEXIST:
                                # link unsupported (linkless fs) or
                                # other non-collision failure (review
                                # r11: the bare handler displaced a
                                # LIVE fresh lease here, admitting two
                                # writers — the same non-EEXIST rename
                                # fallback r10 added to release()).
                                # Check-then-rename: the residual
                                # stat→rename window is documented on
                                # release() and OCC-backstopped.
                                try:
                                    if not self.path.exists():
                                        os.rename(tomb, self.path)
                                        continue  # steal lost; retry
                                except OSError:
                                    pass
                            # a THIRD writer already re-created the
                            # lease at path. Do NOT unlink the tomb:
                            # it is the displaced second writer's only
                            # surviving token (deleting it would leave
                            # that writer heartbeating nothing and
                            # writing unleased; ADVICE r7). Rename it
                            # to a UNIQUE diagnostic name (review r8:
                            # a fixed suffix would clobber the previous
                            # displaced token on repeat displacement —
                            # the forensic record the rename preserves).
                            try:
                                os.rename(
                                    tomb,
                                    tomb.with_name(
                                        f"{tomb.name}.displaced."
                                        f"{uuid.uuid4().hex[:8]}"
                                    ),
                                )
                            except OSError:
                                pass
                            continue
                        tomb.unlink(missing_ok=True)
                        continue
                    tomb.unlink(missing_ok=True)
                    continue
                raise ConcurrentWriterError(
                    f"warehouse writer lease held by {holder!r} "
                    f"(age {age:.0f}s < ttl {self.ttl_s:.0f}s): the "
                    "write-id format is single-writer — wait for the "
                    "other job or raise ttl_s only if it crashed"
                )
        raise ConcurrentWriterError("could not acquire writer lease")

    def touch(self) -> None:
        """Refresh the lease mtime (heartbeat). A cycle longer than
        ``ttl_s`` looks crashed to other writers and can be stolen —
        long-running jobs call this between units of work (``IngestJob``
        heartbeats per file).

        Read-and-utime on ONE fd (same inode): a path-based read-then-
        utime could refresh a FOREIGN lease re-created between the two
        calls, artificially extending its TTL. With the fd, a steal
        after open() means we utime our own orphaned inode — harmless."""
        if not self._held:
            return
        try:
            fd = os.open(self.path, os.O_RDONLY)
        except OSError:
            return
        try:
            # read the WHOLE file: owner is a caller-supplied token of
            # any length — a prefix compare would silently no-op the
            # heartbeat for long tokens and let a live writer be stolen
            chunks = bytearray()
            while chunk := os.read(fd, 4096):
                chunks += chunk
            if chunks.decode(errors="replace") == self.owner:
                os.utime(fd)
        except OSError:
            pass
        finally:
            os.close(fd)

    def release(self) -> None:
        """Release by the SAME atomic primitive acquire's steal uses —
        rename to a unique tombstone, then verify (review r9: the old
        path-based read-then-unlink could delete a THIEF's fresh lease
        when a steal landed between the two calls, re-opening the
        two-concurrent-writers window the lease exists to close).
        Rename atomically takes whatever is at the path: if the
        tombstone carries OUR token, nobody else can be holding it —
        delete it; if it carries someone else's (we were stolen),
        restore it with link (atomic, no-clobber) or preserve it under
        a unique diagnostic name, exactly the acquire discipline."""
        if not self._held:
            return
        self._held = False
        tomb = self.path.with_name(f"_writer.lease.release.{self.owner}")
        try:
            os.rename(self.path, tomb)
        except OSError:
            return  # lease already gone (stolen + released, or crash-swept)
        try:
            content = tomb.read_text()
        except OSError:
            content = ""
        if content == self.owner:
            tomb.unlink(missing_ok=True)
            return
        # not ours: a thief owns the lease we just renamed away — put
        # it back without clobbering anything newer
        try:
            os.link(tomb, self.path)
        except OSError as exc:
            if exc.errno != errno.EEXIST:
                # link unsupported (FAT/some network mounts) or other
                # non-collision failure (ADVICE r9): restore the
                # thief's lease by rename. Review r11: rename CLOBBERS,
                # and a new writer's O_EXCL create can land between the
                # link failure and the rename — so check existence
                # first, narrowing the window to stat→rename (a
                # residual TOCTOU on linkless filesystems only; the
                # commit-point OCC/CAS re-check is the backstop, and
                # hard-link filesystems never enter this branch).
                try:
                    if not self.path.exists():
                        os.rename(tomb, self.path)
                        return
                except OSError:
                    pass  # fall through to the diagnostic displace
            try:
                os.rename(
                    tomb,
                    tomb.with_name(
                        f"{tomb.name}.displaced.{uuid.uuid4().hex[:8]}"
                    ),
                )
            except OSError:
                pass
            return
        tomb.unlink(missing_ok=True)

    def __enter__(self) -> "WriterLease":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()


class SnapshotFormat(ABC):
    """Storage contract for snapshot tables: atomic append, consistent
    read, crash recovery. Implementations own their atomicity mechanism."""

    @abstractmethod
    def read(
        self, spark: SparkSession, path: Path, fallback: T.StructType
    ) -> DataFrame:
        """Read the table at ``path``; empty/absent → empty ``fallback``.
        ``fallback`` is the table's declared schema."""

    @abstractmethod
    def append(self, plan: DataFrame, path: Path, table_name: str) -> int:
        """Atomically append ``plan`` (partitioned by ``ingest_date``);
        a crash must never leave an unrollbackable partial table.
        Returns rows written."""

    @abstractmethod
    def recover(self, table_dirs: Callable[[str], Path],
                inflight_ttl_s: float) -> list[str]:
        """Roll back writes that began but never committed; returns the
        aborted write ids (formats with a transactional log return [])."""


class WriteIdParquetFormat(SnapshotFormat):
    """Plain parquet + ledger-bracketed write-id markers.

    Protocol (the emulation of a commit log without one): stage the batch
    under ``_inflight/<write_id>`` (a crash there never touches the live
    table), ledger ``write begin``, publish each data file into its live
    partition dir under a ``w<write_id>-`` name prefix, ledger ``write
    commit``. :meth:`recover` deletes exactly the files carrying an
    uncommitted write-id prefix — by NAME, never reading them, so a torn
    object from a non-atomic copy is removed just as safely (see
    ``IngestJob._publish_file`` for the object-store semantics).
    """

    def __init__(
        self,
        ledger: Ledger,
        warehouse_dir: Path,
        move: Callable[[Path, Path], None],
    ) -> None:
        self.ledger = ledger
        self.warehouse_dir = Path(warehouse_dir)
        self._move = move

    def read(
        self, spark: SparkSession, path: Path, fallback: T.StructType
    ) -> DataFrame:
        # the emptiness probe must skip '_'-prefixed dirs exactly like
        # Spark's file index does (review r9: a fresh table holding
        # only a _stats manifest counted as non-empty here, then
        # spark.read.parquet found zero data files and raised 'Unable
        # to infer schema' instead of returning the empty fallback)
        def _has_data() -> bool:
            for p in path.rglob("*.parquet"):
                rel = p.relative_to(path)
                if not any(
                    part.startswith(("_", ".")) for part in rel.parts
                ):
                    return True
            return False

        if not path.exists() or not _has_data():
            # from an empty arrow table, the frame's plan is an empty
            # LocalRelation: the driver can see it holds no row (an empty
            # row list would plan as an RDD scan, whose MAX(id) is 2 jobs)
            return spark.createDataFrame(
                to_arrow_schema(fallback).empty_table(), fallback
            )
        # the declared schema plus the ingest_date partition: planning
        # runs no job to infer the schema from file footers
        if "ingest_date" not in fallback.fieldNames():
            fallback = T.StructType(
                [*fallback.fields, T.StructField("ingest_date", T.DateType())]
            )
        return spark.read.schema(fallback).parquet(str(path))

    def append(
        self,
        plan: DataFrame,
        path: Path,
        table_name: str,
        extra_commit_rows: list[tuple[str, str]] | None = None,
        commit_cas_token: str | None = None,
    ) -> int:
        """``extra_commit_rows``: ledger rows written in the SAME
        atomic batch as this append's commit marker (one parquet file —
        see Ledger.append_many). OPTIMIZE uses it to retire the
        write-ids it replaces in the very transition that commits their
        replacement; a crash can never expose both or neither.

        ``commit_cas_token``: put-if-absent commit (r8) — the commit
        batch lands under a token-derived ledger file name via an
        atomic hard link; if another writer already committed the same
        token, THIS append rolls its published files back, marks the
        write aborted, and raises :class:`VersionConflictError`.
        rewrite_table derives the token from the exact predecessor
        write-id set, making its check-then-commit window atomic (two
        rewrites planned against the same committed state can never
        both commit — the 3-writer lease-steal window's backstop)."""
        from pyspark.sql import Observation

        write_id = uuid.uuid4().hex[:16]
        inflight = self.warehouse_dir / "_inflight" / write_id
        obs = Observation()
        # rows counted via Observation on the written plan — no O(table)
        # post-write re-scan
        plan.observe(obs, F.count(F.lit(1)).alias("n")).write.partitionBy(
            "ingest_date"
        ).parquet(str(inflight))
        marker = f"{ledger_mod.WRITE_MARKER_PREFIX}{table_name}:{write_id}"
        self.ledger.append(marker, ledger_mod.STATUS_WRITE_BEGIN)
        try:
            for src in sorted(inflight.rglob("*.parquet")):
                part_dir = src.parent.relative_to(inflight)
                dst_dir = path / part_dir
                dst_dir.mkdir(parents=True, exist_ok=True)
                self._move(src, dst_dir / f"w{write_id}-{src.name}")
        except Exception:
            # roll back THIS write immediately: a later file in the same
            # run() cycle must not see partial rows (watermark/dense-id
            # corruption); the aborted marker keeps recover() moot
            for f in path.rglob(f"w{write_id}-*.parquet"):
                f.unlink(missing_ok=True)
            shutil.rmtree(inflight, ignore_errors=True)
            self.ledger.append(marker, ledger_mod.STATUS_WRITE_ABORTED)
            raise
        won = self.ledger.append_many(
            [(marker, ledger_mod.STATUS_WRITE_COMMIT)]
            + list(extra_commit_rows or []),
            cas_token=commit_cas_token,
        )
        if not won:
            # lost the commit CAS: another writer already committed
            # against the same predecessor state — this write must
            # vanish exactly like a failed publish
            for f in path.rglob(f"w{write_id}-*.parquet"):
                f.unlink(missing_ok=True)
            shutil.rmtree(inflight, ignore_errors=True)
            self.ledger.append(marker, ledger_mod.STATUS_WRITE_ABORTED)
            raise VersionConflictError(
                f"table {table_name!r}: a concurrent writer committed "
                "against the same predecessor version — re-read and retry"
            )
        shutil.rmtree(inflight, ignore_errors=True)
        return int(obs.get["n"])

    def versions(self, table_name: str) -> list[dict]:
        """Commit history (the DESCRIBE HISTORY analog): one dict per
        committed append, ordered by commit time; versions are 1-based
        (version 0 = any pre-protocol un-prefixed bootstrap files)."""
        return [
            {"version": i + 1, "write_id": wid, "committed_at": ts}
            for i, (wid, ts) in enumerate(
                self.ledger.committed_writes(table_name)
            )
        ]

    def read_as_of(
        self,
        spark: SparkSession,
        path: Path,
        fallback: T.StructType,
        table_name: str,
        as_of=None,
        version: int | None = None,
    ) -> DataFrame:
        """Time-travel / snapshot-isolated read: list only files whose
        write-id had COMMITTED by the requested point.

        - ``version=N`` → the table after the Nth committed append;
        - ``as_of=<naive-UTC datetime>`` → commits with
          committed_at <= it;
        - neither → all committed writes: a CONSISTENT committed-only
          view, which also answers the concurrent-reader problem — a
          mid-publish write-id has no commit marker yet, so its
          half-published files are simply not listed (bare
          ``spark.read.parquet`` on the directory has no such guard).

        Un-prefixed files (pre-protocol bootstrap data) are always
        included, as version 0. Like Delta after VACUUM, retention
        partition drops bound how far back as-of reads reach — dropped
        files are gone.
        """
        commits = self.ledger.committed_writes(table_name)
        if version is not None:
            if not 0 <= version <= len(commits):
                raise ValueError(
                    f"version {version} out of range 0..{len(commits)}"
                )
            allowed = {wid for wid, _ in commits[:version]}
        elif as_of is not None:
            allowed = {wid for wid, ts in commits if ts <= as_of}
        else:
            allowed = {wid for wid, _ in commits}
        files = self._committed_file_list(path, table_name, allowed)
        if not files:
            return spark.createDataFrame([], fallback)
        # basePath keeps the ingest_date partition column when reading an
        # explicit file list
        return spark.read.option("basePath", str(path)).parquet(*files)

    def _committed_file_list(
        self, path: Path, table_name: str,
        allowed: set[str] | None = None,
    ) -> list[str]:
        """Data files visible to a committed read: write-id-prefixed
        files whose id is in ``allowed`` (default: every committed id)
        plus un-prefixed version-0 bootstrap files. Files under
        '_'-prefixed dirs (e.g. the _stats manifest) are skipped exactly
        as Spark's own file index skips them — an explicit file list
        that included them would mix manifest rows into the table read
        (CONFLICTING_DIRECTORY_STRUCTURES)."""
        if allowed is None:
            allowed = {
                wid for wid, _ in self.ledger.committed_writes(table_name)
            }
        files: list[str] = []
        if path.exists():
            for f in sorted(path.rglob("*.parquet")):
                if any(part.startswith("_")
                       for part in f.relative_to(path).parts[:-1]):
                    continue
                if f.name.startswith("w") and "-" in f.name:
                    if f.name[1:].split("-", 1)[0] not in allowed:
                        continue
                files.append(str(f))
        return files

    def recover(self, table_dirs: Callable[[str], Path],
                inflight_ttl_s: float = 3600.0) -> list[str]:
        aborted = []
        for table_name, write_id in self.ledger.incomplete_writes():
            table_dir = table_dirs(table_name)
            for f in table_dir.rglob(f"w{write_id}-*.parquet"):
                f.unlink(missing_ok=True)
            shutil.rmtree(
                self.warehouse_dir / "_inflight" / write_id,
                ignore_errors=True,
            )
            self.ledger.append(
                f"{ledger_mod.WRITE_MARKER_PREFIX}{table_name}:{write_id}",
                ledger_mod.STATUS_WRITE_ABORTED,
            )
            aborted.append(write_id)
        # sweep ORPHANED staging dirs: an _inflight/<id> with no ledger
        # marker at all (crash during the staging write itself — the live
        # table was never touched), once older than the TTL (the age
        # guard keeps a concurrently-running job's live staging safe)
        inflight_root = self.warehouse_dir / "_inflight"
        if inflight_root.exists():
            marked = {
                name.rsplit(":", 1)[-1] for name in self.ledger.write_states()
            }
            now = time.time()
            for d in inflight_root.iterdir():
                if (d.name not in marked
                        and now - d.stat().st_mtime >= inflight_ttl_s):
                    shutil.rmtree(d, ignore_errors=True)
        return aborted


def diff_versions(
    spark: SparkSession,
    fmt: "WriteIdParquetFormat",
    path: Path,
    fallback: T.StructType,
    table_name: str,
    from_version: int,
    to_version: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data feed between two committed versions (Delta CDF analog).

    Returns the rows of ``to_version`` minus ``from_version`` tagged
    ``change='insert'`` plus the reverse difference tagged
    ``change='delete'`` (an update under a MERGE shows as delete+insert
    of the same key). Differencing is by content: an anti-join on the
    full row (or on ``key_cols`` when given — then a changed row's key
    appears on BOTH sides). For the append-only write-id format
    ``from < to`` yields inserts only; the delete side goes live once
    retention drops or targeted deletes rewrite files.

    Scale: two as-of file listings (metadata), one anti-join each way on
    md5 row keys — no full-table shuffle beyond the join keys.
    """
    if from_version > to_version:
        raise ValueError("from_version must be <= to_version")
    older = fmt.read_as_of(spark, path, fallback, table_name, version=from_version)
    newer = fmt.read_as_of(spark, path, fallback, table_name, version=to_version)
    # version-0 (or empty) reads come back with the bare fallback schema,
    # which lacks the ingest_date partition column a real file read
    # carries — join on the columns BOTH sides actually have, and let the
    # union backfill the missing ones with NULL
    common = [c for c in newer.columns if c in older.columns]
    cols = key_cols or common
    missing = [c for c in cols if c not in common]
    if missing:
        raise ValueError(f"key_cols not present in both versions: {missing}")
    inserts = newer.join(older.select(cols), cols, "left_anti").withColumn(
        "change", F.lit("insert")
    )
    deletes = older.join(newer.select(cols), cols, "left_anti").withColumn(
        "change", F.lit("delete")
    )
    return inserts.unionByName(deletes, allowMissingColumns=True)


def drop_tombstoned_files(
    files: list[str], tombstoned: set[str] | None
) -> list[str]:
    """Drop files whose ``w<write_id>-`` prefix is in ``tombstoned``
    (``Ledger.tombstoned_writes``). Review r11: manifests are advisory
    caches that restore/rewrite/retention never rewrite, so a
    tombstoned-but-unvacuumed file still on disk passes the existence
    post-filter and ``read_pruned`` returns the retired version's rows
    ALONGSIDE the replacement's — duplicated/stale answers until
    vacuum. Pass the ledger's tombstone set to exclude them; None keeps
    the old existence-only semantics (correct once vacuum has run)."""
    if not tombstoned:
        return files
    import re as _re

    out = []
    for f in files:
        m = _re.search(r"/w([0-9a-f]+)-[^/]*$", f)
        if m and m.group(1) in tombstoned:
            continue
        out.append(f)
    return out


def _live_decoded_files(uris: list[str]) -> list[str]:
    """Advisory-cache post-filter shared by pruned_files and
    bloom_candidate_files (review r9: the loop lived as two verbatim
    copies): manifests are not rewritten by restore/vacuum/retention,
    so entries whose file is gone are skipped (they carry no live rows
    by definition), and local file URIs are returned DECODED —
    input_file_name() percent-escapes, and feeding the escaped form
    back to spark.read treats '%20' literally."""
    from urllib.parse import unquote, urlparse

    out = []
    for uri in uris:
        p = urlparse(uri)
        if p.scheme in ("file", ""):
            local = Path(unquote(p.path))
            if local.exists():
                out.append(str(local))
        else:
            out.append(uri)
    return out


def write_stats_manifest(
    spark: SparkSession,
    path: Path,
    columns: list[str],
    manifest_dir: Path | None = None,
    fmt: "WriteIdParquetFormat | None" = None,
    table_name: str | None = None,
) -> int:
    """Iceberg-manifest-style per-FILE column statistics for a parquet
    table: one row per data file with min/max/null-count of each named
    column plus the row count, written as a small parquet table under
    ``<table>/_stats`` (the underscore prefix keeps it invisible to
    Spark's file index, so plain table readers never see it).

    z02 measures skipping economics on simulated buckets; this makes the
    same pruning REAL on the table's actual files: :func:`pruned_files`
    consults the manifest instead of footer-reading every file — at
    100 TB the difference between planning from a kilobyte manifest and
    opening 10⁵ parquet footers on object storage.

    Built in ONE scan: rows are grouped by ``input_file_name()`` — no
    per-file driver loop. Returns the number of files manifested.

    On a write-id table pass ``fmt``/``table_name``: the scan is then
    restricted to the COMMITTED file list (read_as_of's listing), so
    uncommitted, aborted, or tombstoned-but-unvacuumed files never enter
    the manifest (a bare directory scan would index them, and
    ``read_pruned`` could then surface rows the committed view
    excludes). Without ``fmt``, callers on write-id tables must
    recover()+vacuum() first.
    """
    manifest_dir = manifest_dir or (Path(path) / "_stats")
    if fmt is not None and table_name is not None:
        committed = fmt._committed_file_list(Path(path), table_name)
        if not committed:
            # nothing committed: write an EMPTY manifest carrying every
            # column pruned_files/read_pruned filter on (min_/max_/nulls_
            # per requested column + n_rows) — a bare ``_file`` schema
            # made those filters raise UNRESOLVED_COLUMN instead of the
            # documented empty result (ADVICE r5). Min/max are typed
            # string here (true types are unknowable with zero files);
            # the manifest is empty so they are never compared to values.
            fields = [
                T.StructField("_file", T.StringType()),
                T.StructField("n_rows", T.LongType()),
            ]
            for c in columns:
                fields += [
                    T.StructField(f"min_{c}", T.StringType()),
                    T.StructField(f"max_{c}", T.StringType()),
                    T.StructField(f"nulls_{c}", T.LongType()),
                ]
            spark.createDataFrame([], T.StructType(fields)).coalesce(
                1
            ).write.mode("overwrite").parquet(str(manifest_dir))
            return 0
        df = (
            spark.read.option("basePath", str(path)).parquet(*committed)
            .withColumn("_file", F.input_file_name())
        )
    else:
        df = spark.read.parquet(str(path)).withColumn(
            "_file", F.input_file_name()
        )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"),
        ]
    stats = df.groupBy("_file").agg(*aggs)
    # a manifest is small (one row per file): single output file
    stats.coalesce(1).write.mode("overwrite").parquet(str(manifest_dir))
    return spark.read.parquet(str(manifest_dir)).count()


def pruned_files(
    spark: SparkSession,
    path: Path,
    column: str,
    lo,
    hi,
    manifest_dir: Path | None = None,
    tombstoned: set[str] | None = None,
) -> list[str]:
    """Data files whose [min, max] range for ``column`` intersects
    [lo, hi], per the stats manifest — the files a range query must
    scan. All-null files (min/max NULL) are kept: stats cannot prove
    they miss, and dropping them would be a wrong answer, not a slow
    one. Bounded driver work: the manifest has one row per file."""
    manifest_dir = manifest_dir or (Path(path) / "_stats")
    m = spark.read.parquet(str(manifest_dir))
    keep = m.where(
        F.col(f"min_{column}").isNull()
        | ((F.col(f"min_{column}") <= hi) & (F.col(f"max_{column}") >= lo))
    )
    files = [r["_file"] for r in keep.select("_file").collect()]
    # advisory-cache post-filters (see _live_decoded_files and
    # drop_tombstoned_files — the latter excludes retired-but-
    # unvacuumed write-ids when the caller passes the ledger set)
    return drop_tombstoned_files(_live_decoded_files(files), tombstoned)


def read_pruned(
    spark: SparkSession,
    path: Path,
    column: str,
    lo,
    hi,
    manifest_dir: Path | None = None,
    tombstoned: set[str] | None = None,
) -> DataFrame:
    """Range read through the manifest: scan only intersecting files,
    then apply the exact predicate (file stats admit false positives,
    never false negatives). Equals the full-scan filter by construction;
    the pytest pins both the equality and that files were skipped."""
    files = pruned_files(
        spark, path, column, lo, hi, manifest_dir, tombstoned
    )
    if not files:
        try:
            schema = spark.read.parquet(str(path)).schema
        except Exception:  # noqa: BLE001
            # zero data files (e.g. manifest written before any commit):
            # schema inference has nothing to read — answer with an
            # empty frame typed from the manifest's own stats columns
            # rather than crashing (same contract as pruned_files)
            mdir = manifest_dir or (Path(path) / "_stats")
            mtype = spark.read.parquet(str(mdir)).schema[
                f"min_{column}"
            ].dataType
            schema = T.StructType([T.StructField(column, mtype)])
        return spark.createDataFrame([], schema)
    return (
        spark.read.option("basePath", str(path))
        .parquet(*files)
        .where(F.col(column).between(lo, hi))
    )


def restore_to_version(
    fmt: WriteIdParquetFormat, path: Path, table_name: str, version: int
) -> int:
    """RESTORE TABLE ... TO VERSION N (Delta-RESTORE analog, simplified:
    later versions leave the history instead of restore being a new
    commit). Tombstone-first ordering makes it crash-safe: each doomed
    write-id gets a ledger 'restored-away' row BEFORE its files are
    unlinked, so a crash mid-delete leaves the table logically restored
    (committed_writes excludes tombstoned ids; read_as_of and live reads
    no longer list those files) and vacuum() sweeps the stragglers.

    Returns the number of write-ids restored away.
    """
    commits = fmt.ledger.committed_writes(table_name)
    if not 0 <= version <= len(commits):
        raise ValueError(f"version {version} out of range 0..{len(commits)}")
    doomed = [wid for wid, _ in commits[version:]]
    for wid in doomed:
        marker = f"{ledger_mod.WRITE_MARKER_PREFIX}{table_name}:{wid}"
        fmt.ledger.append(marker, ledger_mod.STATUS_WRITE_RESTORED)
        for f in Path(path).rglob(f"w{wid}-*.parquet"):
            f.unlink(missing_ok=True)
    return len(doomed)


def vacuum(fmt: WriteIdParquetFormat, path: Path, table_name: str) -> int:
    """Delete lingering data files of TOMBSTONED write-ids (restored or
    aborted). Deliberately narrower than Delta's VACUUM: an unknown or
    in-progress write-id is never touched — only ids with an explicit
    tombstone row — so vacuum can never race a concurrent publish and
    needs no retention-window heuristic. recover() owns the
    crashed-uncommitted case. Returns files deleted."""
    dead = set(fmt.ledger.tombstoned_writes(table_name))
    n = 0
    if not Path(path).exists():
        return 0
    for f in Path(path).rglob("w*-*.parquet"):
        wid = f.name[1:].split("-", 1)[0]
        if wid in dead:
            f.unlink(missing_ok=True)
            n += 1
    return n


def rewrite_table(
    spark: SparkSession,
    fmt: WriteIdParquetFormat,
    path: Path,
    fallback: T.StructType,
    table_name: str,
    transform: Callable[[DataFrame], DataFrame],
    run_vacuum: bool = True,
    expected_version: int | None = None,
) -> dict:
    """Transactional whole-table rewrite — the write-id format's one
    primitive behind every DML that isn't an append: apply ``transform``
    to the committed rows and commit the result as ONE new version,
    retiring every prior write-id in the SAME atomic ledger batch as the
    new commit (Ledger.append_many — one parquet file appears whole or
    not at all). OPTIMIZE, MERGE, and DELETE are thin transforms over
    this.

    Crash windows:
    - before the batch: the new write-id has no commit marker —
      ``recover()`` deletes its files; the old versions stay live.
    - after the batch, before vacuum: the table is already consistent
      (old ids are tombstoned out of every committed read); ``vacuum``
      sweeps their lingering files — same semantics as restore.

    Like Delta's OPTIMIZE+VACUUM, prior versions leave time travel.
    Refuses tables with pre-protocol un-prefixed files (version 0
    cannot be tombstoned, so a rewrite would duplicate those rows).

    **Optimistic concurrency**: pass ``expected_version`` (the version
    the transform was planned against — ``len(versions(table))``) and
    the rewrite refuses with :class:`VersionConflictError` if the table
    has advanced, instead of silently basing the new version on rows
    the caller never saw. This is the Delta commit-check shape; under
    the supported single-writer-per-warehouse deployment (WriterLease)
    the check-then-commit window is already exclusive, so the check is
    sufficient, not merely advisory. The retry loop is the caller's:
    re-read, re-plan, re-call.
    """
    if not Path(path).exists():
        # same key set as the committed path (review r9: callers
        # reading files_before/files_after got a KeyError only on
        # the rare empty-table branch)
        return {"rewritten": 0, "files_retired": 0,
                "files_before": 0, "files_after": 0}
    unprefixed = [
        f for f in Path(path).rglob("*.parquet")
        if not (f.name.startswith("w") and "-" in f.name)
        and not any(part.startswith("_") for part in f.relative_to(path).parts)
    ]
    if unprefixed:
        raise RuntimeError(
            f"rewrite_table: {len(unprefixed)} pre-protocol files have "
            "no write-id and cannot be retired — import them through "
            "append() first"
        )
    old_ids = [wid for wid, _ in fmt.ledger.committed_writes(table_name)]
    if expected_version is not None and len(old_ids) != expected_version:
        raise VersionConflictError(
            f"table {table_name!r} is at version {len(old_ids)}, rewrite "
            f"was planned against {expected_version} — re-read and retry"
        )
    if not old_ids:
        # same key set as the committed path (review r9: callers
        # reading files_before/files_after got a KeyError only on
        # the rare empty-table branch)
        return {"rewritten": 0, "files_retired": 0,
                "files_before": 0, "files_after": 0}
    current = fmt.read_as_of(spark, path, fallback, table_name)
    files_before = len(list(Path(path).rglob("w*-*.parquet")))
    rewritten = transform(current)
    tombstones = [
        (f"{ledger_mod.WRITE_MARKER_PREFIX}{table_name}:{wid}",
         ledger_mod.STATUS_WRITE_RESTORED)
        for wid in old_ids
    ]
    cas_token = None
    if expected_version is not None:
        # re-check at the commit point: the transform's execution is the
        # check-then-commit window a concurrent append can land in when
        # no WriterLease serializes writers (the caller re-plans on
        # this); ids are compared, not just the count, so a
        # tombstone+append pair of the same arity is still caught
        now_ids = [w for w, _ in fmt.ledger.committed_writes(table_name)]
        if now_ids != old_ids:
            raise VersionConflictError(
                f"table {table_name!r} advanced during the rewrite "
                f"transaction (planned {len(old_ids)} ids, now "
                f"{len(now_ids)}) — re-read and retry"
            )
        # the check above is itself check-then-commit; the CAS token
        # (hash of the exact predecessor id set — write-ids are uuids,
        # so a set never repeats) makes the COMMIT the arbiter among
        # REWRITES: of all rewrites planned against this committed
        # state, exactly one ever lands (r8; proven by the 3-writer
        # steal-race pytest). Scope (review r8): a plain APPEND commits
        # without a CAS, so an append landing between this re-check and
        # the link can still slip past a concurrently-committing
        # rewrite — that residual is the documented append-vs-rewrite
        # window the WriterLease exists to close (appends and rewrites
        # share the lease in the supported deployment); the CAS closes
        # the rewrite-vs-rewrite double-commit that the 3-writer lease
        # steal could reach even WITH the lease.
        import hashlib

        cas_token = hashlib.sha256(
            ("\n".join([table_name] + sorted(old_ids))).encode()
        ).hexdigest()[:24]
    n = fmt.append(
        rewritten, path, table_name, extra_commit_rows=tombstones,
        commit_cas_token=cas_token,
    )
    swept = vacuum(fmt, path, table_name) if run_vacuum else 0
    return {
        "rewritten": n,
        "files_retired": swept,
        "files_before": files_before,
        "files_after": len(list(Path(path).rglob("w*-*.parquet"))),
    }


def optimize_zorder(
    spark: SparkSession,
    fmt: WriteIdParquetFormat,
    path: Path,
    fallback: T.StructType,
    table_name: str,
    zorder_cols: list[str],
    bits: int = 10,
    n_partitions: int | None = None,
    run_vacuum: bool = True,
) -> dict:
    """OPTIMIZE ... ZORDER BY: :func:`rewrite_table` with the Morton
    clustering transform. Content equality is the caller-checkable
    invariant (order-insensitive fingerprint before == after; pytest
    pins it); ``n_partitions`` sizes the compacted output files."""
    from ..operators.zorder import zorder_by

    # OPTIMIZE is also compaction: n_partitions sizes the output files
    # (~0.5-2 GB each at scale); default keeps the session parallelism
    return rewrite_table(
        spark, fmt, path, fallback, table_name,
        lambda cur: zorder_by(
            cur, zorder_cols, bits=bits, n_partitions=n_partitions
        ).drop("_zcode"),
        run_vacuum=run_vacuum,
    )


def merge_into_table(
    spark: SparkSession,
    fmt: WriteIdParquetFormat,
    path: Path,
    fallback: T.StructType,
    table_name: str,
    updates: DataFrame,
    key: str | list[str],
    order_col: str | None = None,
    run_vacuum: bool = True,
) -> dict:
    """Transactional MERGE (upsert): same-key rows replaced, new keys
    appended — operators.upsert.merge_upsert committed through
    :func:`rewrite_table` as one atomic version."""
    from ..operators.upsert import merge_upsert

    return rewrite_table(
        spark, fmt, path, fallback, table_name,
        lambda cur: merge_upsert(cur, updates, key, order_col=order_col),
        run_vacuum=run_vacuum,
    )


def delete_from_table(
    spark: SparkSession,
    fmt: WriteIdParquetFormat,
    path: Path,
    fallback: T.StructType,
    table_name: str,
    condition,
    run_vacuum: bool = True,
) -> dict:
    """Transactional DELETE WHERE ``condition`` (a Column or SQL
    string): the complement survives as one atomic version — GDPR-class
    row removal with crash safety and a vacuumable trail instead of an
    in-place file surgery.

    SQL DELETE semantics: only rows where the condition is TRUE are
    removed — a NULL condition KEEPS the row (``where(~cond)`` alone
    would silently drop NULL-condition rows, since NOT NULL is NULL)."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    return rewrite_table(
        spark, fmt, path, fallback, table_name,
        lambda cur: cur.where(~F.coalesce(cond, F.lit(False))),
        run_vacuum=run_vacuum,
    )


def write_bloom_manifest(
    spark: SparkSession,
    path: Path,
    column: str,
    manifest_dir: Path | None = None,
    n_bits: int = 1 << 13,
    n_hashes: int = 3,
    fmt: "WriteIdParquetFormat | None" = None,
    table_name: str | None = None,
) -> int:
    """Per-FILE Bloom filters for POINT lookups — the complement of the
    min/max stats manifest, which cannot prune equality probes on
    columns uncorrelated with file layout (every file's [min, max]
    spans the probe). One row per data file with a sparse
    ``map<word_idx, word>`` of the file's ``column`` key bits; Parquet
    itself has optional footer bloom filters, but Spark's scan does not
    consult them for pruning — this manifest makes the same idea an
    explicit, plannable index (Iceberg puts equality-delete blooms in
    manifests for the same reason).

    Built in ONE scan grouped by ``input_file_name()`` (no per-file
    driver loop); ~n_bits/8 bytes per file worst case, so planning a
    point read over 10⁵ files is a kilobyte-scale manifest scan instead
    of opening every footer on object storage. Bit positions come from
    the same salted-``xxhash64`` scheme as ``operators/bloom.py`` —
    advisory pruning, so engine parity is not required; the read that
    follows re-applies the exact predicate.

    Pass ``fmt``/``table_name`` on a write-id table to index only
    COMMITTED files (same contract as :func:`write_stats_manifest`).
    Returns the number of files indexed.

    **Sizing**: keep ``n_bits ≳ 10·n_hashes·(distinct keys per file)``
    for a low-single-digit false-positive rate — an undersized filter
    saturates and admits every file (candidates are still correct,
    pruning just degrades to a full read). The default 8 Ki-bits (1 KiB
    of words) covers ~2-3 k keys/file; compaction-time row-group sizing
    controls the per-file key count.
    """
    from datawarehouse_backup_system_spark.operators.bloom import (
        _positions,
        _shiftleft,
    )

    manifest_dir = manifest_dir or (Path(path) / f"_bloom_{column}")
    if fmt is not None and table_name is not None:
        committed = fmt._committed_file_list(Path(path), table_name)
        if not committed:
            schema = T.StructType([
                T.StructField("_file", T.StringType()),
                T.StructField(
                    "words", T.MapType(T.IntegerType(), T.LongType())
                ),
            ])
            spark.createDataFrame([], schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(manifest_dir))
            return 0
        df = spark.read.option("basePath", str(path)).parquet(*committed)
    else:
        df = spark.read.parquet(str(path))
    # hash the CANONICAL string rendering: xxhash64 is physical-type-
    # sensitive (int literal != bigint column), and the probe side has
    # no schema to coerce to — string form makes build and probe agree
    # for any integer/string key type
    pos = F.explode(
        F.array(
            *_positions(F.col(column).cast("string"), n_bits, n_hashes)
        )
    )
    words = (
        df.withColumn("_file", F.input_file_name())
        .where(F.col(column).isNotNull())
        .select("_file", pos.alias("_pos"))
        .select(
            "_file",
            (F.col("_pos") / 64).cast("int").alias("_w"),
            _shiftleft(
                F.lit(1).cast("bigint"), (F.col("_pos") % 64).cast("int")
            ).alias("_m"),
        )
        .groupBy("_file", "_w")
        .agg(F.bit_or("_m").alias("_word"))
        .groupBy("_file")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("_w", "_word"))
            ).alias("words")
        )
    )
    words.coalesce(1).write.mode("overwrite").parquet(str(manifest_dir))
    return spark.read.parquet(str(manifest_dir)).count()


def bloom_candidate_files(
    spark: SparkSession,
    path: Path,
    column: str,
    value,
    manifest_dir: Path | None = None,
    n_bits: int = 1 << 13,
    n_hashes: int = 3,
    tombstoned: set[str] | None = None,
) -> list[str]:
    """Files that MAY contain ``column = value`` per the bloom manifest
    (no false negatives; false positives at the filter's rate). Same
    advisory-cache semantics as :func:`pruned_files`: entries whose file
    has since been deleted are skipped, URIs are returned decoded."""
    from datawarehouse_backup_system_spark.operators.bloom import (
        _positions,
        _shiftleft,
    )

    manifest_dir = manifest_dir or (Path(path) / f"_bloom_{column}")
    m = spark.read.parquet(str(manifest_dir))
    cond = None
    for pos in _positions(
        F.lit(value).cast("string"), n_bits, n_hashes
    ):
        word = F.element_at(F.col("words"), (pos / 64).cast("int"))
        mask = _shiftleft(
            F.lit(1).cast("bigint"), (pos % 64).cast("int")
        )
        bit = word.isNotNull() & (word.bitwiseAND(mask) != 0)
        cond = bit if cond is None else cond & bit
    files = [r["_file"] for r in m.where(cond).select("_file").collect()]
    # advisory-cache post-filter (shared helper — see _live_decoded_files)
    return drop_tombstoned_files(
        _live_decoded_files(files), tombstoned
    )

