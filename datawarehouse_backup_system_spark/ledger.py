"""Processing ledger: the idempotency/audit table.

The reference keeps ``processed_files(file_name, status, created_at)`` in
Postgres (S12/S13, ``util/data_pushing.py:490-592``) and loads it into a
Python set for membership tests (``main.py:349-350,364``). Here it is a
tiny append-only parquet table, one file per batch of rows, and — like
the reference — a metadata store, not a distributed job: batches are
written and read on the driver with pyarrow, so no ledger write, routing
lookup or write-id query launches a Spark job. A batch is written under a
hidden name and made visible by one rename (or, for a put-if-absent
commit, one hard link), so it appears whole or not at all.
:meth:`Ledger.read` still serves the whole table as a Spark frame for
outside readers, and files written by Spark's own parquet writer read
back the same way.

Status strings preserve the reference's vocabulary (21 distinct statuses,
SURVEY §5) — e.g. ``'processed'``, ``'uploaded to ClickHouse'``,
``'no schema found'``, ``'column count mismatch'``.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from datetime import datetime, timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
    ]
)
#: LEDGER_SCHEMA as the driver writes it; a tz-aware UTC timestamp is the
#: parquet encoding Spark reads back as TimestampType
_ARROW_SCHEMA = pa.schema(
    [
        pa.field("file_name", pa.string(), nullable=False),
        pa.field("status", pa.string(), nullable=False),
        pa.field("created_at", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)
#: hidden name a batch is written under before it becomes visible
_TMP_PREFIX = ".ledger-tmp-"
#: age after which a stranded hidden batch file is swept
_TMP_TTL_S = 86_400
#: CAS staging dirs earlier versions made next to the ledger dir
_LEGACY_STAGE_GLOB = "_ledger_stage-*"

# The reference's full 20-string status vocabulary (every literal passed
# to insert_processed_file across main.py + util/). Statuses whose stage
# exists distinctly in this engine are wired into the ingest paths; the
# per-stage pandas errors (rename / add column / self dedup / cross-file
# comparison and their 'critical' variants) cannot occur separately here
# because those stages collapse into ONE lazy Catalyst plan — any failure
# in that plan surfaces at write time as STATUS_INSERT_ERROR (or
# STATUS_COLUMN_MISMATCH, which is validated pre-plan). Kept as constants
# for diagnostics parity with reference dashboards.
STATUS_PROCESSED = "processed"
STATUS_UPLOADED = "uploaded to ClickHouse"
STATUS_NO_SCHEMA = "no schema found"
STATUS_NO_RENAME_MAP = "no column mapping found"
STATUS_COLUMN_MISMATCH = "column count mismatch"
STATUS_NOT_CSV = "not a valid CSV file"
STATUS_EXTRACTION_FAILED = "extraction failed"
STATUS_EXTRACTION_CRITICAL = "critical extraction error"
STATUS_RENAME_ERROR = "rename error"
STATUS_RENAME_CRITICAL = "critical rename error"
STATUS_ADD_COLUMN_ERROR = "add column error"
STATUS_ADD_COLUMN_CRITICAL = "critical add column error"
STATUS_SELF_DEDUP_ERROR = "self deduplication error"
STATUS_SELF_DEDUP_CRITICAL = "critical self deduplication error"
STATUS_CROSSFILE_ERROR = "cross-file comparison error"
STATUS_CROSSFILE_CRITICAL = "critical cross-file comparison error"
STATUS_INSERT_ERROR = "insert error"
STATUS_UPLOAD_ERROR = "upload error"
STATUS_LAST_ID_ERROR = "update last_id error"
STATUS_EMPTY = "empty file"
STATUS_UNEXPECTED = "unexpected error"

# -- write-id transaction markers (snapshot append atomicity) -------------
# A snapshot append is bracketed by ledger rows named "_write:<table>:<id>"
# so a mid-write crash is detectable and rollbackable (begin without
# commit → recover_writes deletes that write-id's files).
WRITE_MARKER_PREFIX = "_write:"
STATUS_WRITE_BEGIN = "write begin"
STATUS_WRITE_COMMIT = "write commit"
STATUS_WRITE_ABORTED = "write aborted"
# RESTORE tombstone: a committed write logically removed by
# restore_to_version. Excluded from committed_writes (so time travel and
# live reads no longer see it); its data files become vacuum()-able.
STATUS_WRITE_RESTORED = "write restored-away"


class Ledger:
    def __init__(self, spark: SparkSession, path: str | Path):
        self.spark = spark
        self.path = str(path)

    def append(self, file_name: str, status: str) -> None:
        self.append_many([(file_name, status)])

    def append_many(
        self, rows: list[tuple[str, str]], cas_token: str | None = None
    ) -> bool:
        """Write several (file_name, status) rows as ONE parquet file —
        the closest thing the format has to an atomic multi-row commit:
        the file appears whole or not at all, so a composite transition
        (e.g. OPTIMIZE's 'commit new write-id + tombstone the ids it
        replaces') can never be observed half-applied.

        The batch is written on the driver with pyarrow (a few rows need
        no Spark job) to a hidden ``.ledger-tmp-*`` name in the ledger
        dir, which both readers skip, and becomes visible in one step:
        ``os.replace`` to a fresh ``part-*.parquet`` name. A kill between
        the write and the rename strands only the hidden file; the next
        append sweeps such files once they are a day old.

        ``cas_token``: put-if-absent commit (the Delta commit-log
        shape, r8). The hidden file is HARD-LINKED in under
        ``cas-{token}.parquet`` instead — link is atomic and fails
        EEXIST if a batch for the same token already landed, so exactly
        ONE caller per token ever commits; the link IS the commit, so a
        crash leaves either nothing (retryable) or the whole batch.
        Returns True if this call committed, False if the token was
        already taken (the caller rolls back its write).
        """
        if not rows:
            if cas_token is not None:
                # an empty CAS batch cannot consume the token — two
                # racers would both "win" and a later non-empty batch
                # for the same token would also land (review r8)
                raise ValueError(
                    "append_many: cas_token requires a non-empty batch"
                )
            return True
        d = Path(self.path)
        if cas_token is None:
            target = d / f"part-{uuid.uuid4().hex}.parquet"
        else:
            target = d / f"cas-{cas_token}.parquet"
            if target.exists():
                return False
        d.mkdir(parents=True, exist_ok=True)
        self._sweep_stranded()
        names, statuses = zip(*rows)
        now = datetime.now(timezone.utc)
        batch = pa.table(
            [names, statuses, [now] * len(rows)], schema=_ARROW_SCHEMA
        )
        tmp = d / f"{_TMP_PREFIX}{uuid.uuid4().hex}"
        try:
            pq.write_table(batch, tmp)
            if cas_token is None:
                os.replace(tmp, target)
                return True
            try:
                os.link(tmp, target)
            except FileExistsError:
                return False
            return True
        finally:
            tmp.unlink(missing_ok=True)

    def _sweep_stranded(self) -> None:
        """Delete hidden batch files a killed writer left between write
        and rename, once old enough that no live append still owns one.
        Also swept: ``_ledger_stage-*`` dirs next to the ledger dir, where
        earlier versions staged a CAS batch with Spark; nothing reads them."""
        now = time.time()
        d = Path(self.path)
        strays = [*d.glob(f"{_TMP_PREFIX}*"), *d.parent.glob(_LEGACY_STAGE_GLOB)]
        for stray in strays:
            try:
                if now - stray.stat().st_mtime > _TMP_TTL_S:
                    if stray.is_dir():
                        shutil.rmtree(stray, ignore_errors=True)
                    else:
                        stray.unlink(missing_ok=True)
            except OSError:
                pass

    def _files(self) -> list[Path]:
        """The committed batches. Like Spark's file index, names starting
        with ``.`` or ``_`` are skipped: a stranded temp file, and the
        ``_SUCCESS`` marker of a batch written by Spark."""
        p = Path(self.path)
        if not p.is_dir():
            return []
        return sorted(
            f for f in p.glob("*.parquet")
            if not f.name.startswith((".", "_"))
        )

    def read(self) -> DataFrame:
        """S13: the full ledger, as a Spark frame for outside readers."""
        if not self._files():
            return self.spark.createDataFrame([], LEDGER_SCHEMA)
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)

    def processed_set(self) -> set[str]:
        """Driver-side membership set for file routing (reference
        main.py:350). Stays O(#files); write-id transaction markers are
        internal bookkeeping, not landing files."""
        return {
            name
            for f in self._files()
            for name in pq.read_table(f, columns=["file_name"])
            .column("file_name").to_pylist()
            if not name.startswith(WRITE_MARKER_PREFIX)
        }

    def write_states(
        self, table_name: str | None = None
    ) -> dict[str, dict[str, datetime]]:
        """Every write-id marker (of ``table_name``, default all tables)
        → its statuses, each with the first time it was ledgered as a
        naive-UTC datetime. The one fold behind the write-id queries
        below, read on the driver with pyarrow."""
        prefix = WRITE_MARKER_PREFIX + (
            "" if table_name is None else f"{table_name}:"
        )
        out: dict[str, dict[str, datetime]] = {}
        for f in self._files():
            t = pq.read_table(f, columns=["file_name", "status", "created_at"])
            t = t.filter(pc.starts_with(t.column("file_name"), prefix))
            # a Spark-written batch stores INT96 (ns), a driver batch
            # microseconds in UTC: both read back as naive-UTC
            at = t.column("created_at").cast(pa.timestamp("us"))
            for name, status, ts in zip(
                t.column("file_name").to_pylist(),
                t.column("status").to_pylist(),
                at.to_pylist(),
            ):
                seen = out.setdefault(name, {})
                if status not in seen or ts < seen[status]:
                    seen[status] = ts
        return out

    def incomplete_writes(self) -> list[tuple[str, str]]:
        """(table_name, write_id) pairs whose begin marker has no commit
        and no aborted marker — the rollback set for recover_writes."""
        out = []
        for name, states in self.write_states().items():
            if STATUS_WRITE_BEGIN in states and not (
                {STATUS_WRITE_COMMIT, STATUS_WRITE_ABORTED} & states.keys()
            ):
                _, table_name, write_id = name.split(":", 2)
                out.append((table_name, write_id))
        return out

    def committed_writes(self, table_name: str) -> list[tuple[str, datetime]]:
        """(write_id, committed_at) for every COMMITTED snapshot append
        of ``table_name`` not tombstoned by a restore, ordered by commit
        time (ties by id) — the version history time travel reads from.
        ``committed_at`` is a naive-UTC datetime."""
        out = [
            (name.rsplit(":", 1)[-1], states[STATUS_WRITE_COMMIT])
            for name, states in self.write_states(table_name).items()
            if STATUS_WRITE_COMMIT in states
            and STATUS_WRITE_RESTORED not in states
        ]
        return sorted(out, key=lambda t: (t[1], t[0]))

    def tombstoned_writes(self, table_name: str) -> list[str]:
        """write_ids of ``table_name`` carrying a restore tombstone, or
        an abort marker with NO commit — the set whose lingering data
        files vacuum() may safely delete (an unknown/in-progress
        write-id is NOT in this list, so vacuum can never race a
        concurrent publish).

        ABORTED alone is not enough (review r11): a write-id whose
        state set holds an abort followed by a COMMIT is live, and
        vacuum() must not delete its files. A later COMMIT supersedes
        an earlier abort; RESTORED always tombstones (it retires a
        commit by design)."""
        return [
            name.rsplit(":", 1)[-1]
            for name, states in self.write_states(table_name).items()
            if STATUS_WRITE_RESTORED in states
            or (
                STATUS_WRITE_ABORTED in states
                and STATUS_WRITE_COMMIT not in states
            )
        ]
