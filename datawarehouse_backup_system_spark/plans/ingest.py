"""The ingest pipeline: the reference's daily cycle as ONE lazy plan per table.

Reference lifecycle E1 (``main.py:335-410``, SURVEY §3) rewrites a CSV on
disk up to four times between stages. Here stages e-h and j collapse into
a single DataFrame plan per table and cycle:

    scan (all-string, one per sniffed file profile) → rename/backfill
    (P1-P3) → union by name → row_hash (F1) → self-dedup J1 → history
    anti-join J2 → typed casts (F2-F7) → dense ids (F8) → snapshot append
    (S9, partitioned by ingest_date)

A cycle (:meth:`IngestJob.run`) first triages every listed file on the
driver, with no Spark job: zip extraction, CSV suffix, filename routing,
the (encoding, delimiter, header) sniff, and EMPTY for a file whose scan
would yield no row. Each table then costs one history read, one
watermark (from parquet footers, no job), one append and one ledger
status write, whatever its number of files; the append is the only
Spark work, and per-file ``rows_in`` and ``rows_loaded`` ride it as
Observations. It runs at most 3 jobs: the broadcast of history's
``row_hash`` column, one exchange into a single partition (J1, J2 and
the ids all run after it), and the write. The file rank is a literal
map lookup, so it adds none. The ledger
(S12/S13) provides file-level idempotency exactly like the reference's
processed_files table. :meth:`IngestJob.process_file` is the same core
on a one-file listing, and a table whose plan fails before its commit
is planned again one file at a time, so there is one planner.

**Ingest order** (first-occurrence dedup + id order) is exact listing
order, reconstructed distributively as the composite
``(_file_rank, _metadata.file_block_start, monotonically_increasing_id)``:
file rank is the file's position in the cycle's listing, block start
orders a file's splits (the scheduler packs blocks by size, so mono-id
alone does NOT follow file order on multi-block files), and mono-id
orders rows within a block. Because the rank is global, one J1 over the
union keeps exactly the rows a file-by-file cycle keeps (J1 per file,
then J2 against the files before it), and numbers them identically.
"""

from __future__ import annotations

import logging
import shutil
import uuid
import zipfile
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datawarehouse_backup_system_spark import ledger as ledger_mod
from datawarehouse_backup_system_spark.ledger import Ledger
from datawarehouse_backup_system_spark.operators.cast import apply_typed_casts
from datawarehouse_backup_system_spark.operators.dedup import (
    anti_join_history,
    self_dedup_first,
)
from datawarehouse_backup_system_spark.operators.hashing import with_row_hash
from datawarehouse_backup_system_spark.operators.ids import (
    assign_dense_ids,
    next_id_watermark,
)
from datawarehouse_backup_system_spark.operators.normalize import normalize
from datawarehouse_backup_system_spark.registry import SchemaRegistry, TableSchema
from datawarehouse_backup_system_spark.sources import csv_source
from datawarehouse_backup_system_spark.sources.catalog import (
    Router,
    default_router,
    discover_files,
)
from datawarehouse_backup_system_spark.sources.csv_source import (
    extract_zip_first_member,
    read_raw_csv,
)

log = logging.getLogger(__name__)

#: composite ingest-order columns carried through the plan
SEQ_COLS = ("_file_rank", "_blk", "_row")


@dataclass
class FileResult:
    file_name: str
    status: str
    rows_in: int = 0
    rows_loaded: int = 0
    error: str | None = None


@dataclass
class _Routed:
    """A listed file the driver routed to a table."""

    rank: int                # position in the listing: the ingest order
    path: Path               # landing path; its name is the ledger key
    scan_path: Path          # what Spark scans (a zip's extracted member)


def _sniff(path: Path) -> tuple:
    """(encoding, delimiter, header): what files must share to be read by
    one multi-path scan — Spark applies one delimiter and encoding to every
    path, so a ``;`` file next to ``,`` siblings would be silently misparsed
    (review r7). Driver-side; reads only each file's first bytes."""
    enc = csv_source.detect_encoding(path) or "utf-8"
    delim = csv_source.detect_delimiter(path, enc)
    return enc, delim, tuple(csv_source.read_header(path, enc, delim))


def _unexpected(exc: Exception) -> str:
    return f"{ledger_mod.STATUS_UNEXPECTED}: {type(exc).__name__}"


def _rank_counts(ranks: list[int]) -> list:
    """One ``count_if(_file_rank = r)`` per file, for an Observation on a
    frame that still carries SEQ_COLS: per-file counts on the write job,
    with no job of their own."""
    return [F.count_if(F.col("_file_rank") == r).alias(f"r{r}") for r in ranks]


def _per_file_rows(obs: Observation, ranks: list[int]) -> dict[int, int] | None:
    """Per-file counts read back from ``obs`` (see :func:`_rank_counts`).
    A metric must never sink an upload: if it is unavailable, warn and
    return None."""
    try:
        got = obs.get
        return {r: int(got[f"r{r}"]) for r in ranks}
    except Exception:  # noqa: BLE001
        log.warning("ingest Observation unavailable", exc_info=True)
        return None


@dataclass
class IngestJob:
    spark: SparkSession
    registry: SchemaRegistry
    warehouse_dir: str | Path
    router: Router = field(default_factory=default_router)
    staging_dir: str | Path | None = None
    #: dense-id path; "global" (one-window row_number) is the only one
    id_strategy: str = "global"
    #: partition column value for this run (ISO date); None → today.
    #: Snapshots are partitioned by ingest_date so retention (C2) becomes
    #: a metadata-only partition drop and incremental readers can prune.
    ingest_date: str | None = None

    def __post_init__(self) -> None:
        from datawarehouse_backup_system_spark.plans.table_format import (
            WriteIdParquetFormat,
        )

        if self.id_strategy != "global":
            raise ValueError(f"unknown id strategy: {self.id_strategy!r}")
        self.warehouse_dir = Path(self.warehouse_dir)
        self.warehouse_dir.mkdir(parents=True, exist_ok=True)
        self.ledger = Ledger(self.spark, self.warehouse_dir / "_ledger")
        # the Delta/Iceberg seam: every snapshot read/append/recover goes
        # through this format object (see plans/table_format.py); the
        # publish hook stays late-bound so storage overrides on the job
        # class apply
        self.fmt = WriteIdParquetFormat(
            self.ledger, self.warehouse_dir,
            move=lambda src, dst: self._publish_file(src, dst),
        )

    # -- snapshot table helpers ------------------------------------------
    def table_path(self, schema: TableSchema) -> Path:
        return Path(self.warehouse_dir) / schema.table_name

    def read_table(self, schema: TableSchema) -> DataFrame:
        return self.fmt.read(
            self.spark, self.table_path(schema), schema.to_struct_type()
        )

    # -- plan pieces -------------------------------------------------------
    def _scan_with_seq(
        self,
        paths: list[Path],
        ranks: list[int] | None = None,
        encoding: str | None = None,
        delimiter: str | None = None,
        header: tuple[str, ...] = (),
        scratch_dir: Path | None = None,
    ) -> DataFrame:
        """Multi-path all-string scan + the exact-ingest-order columns.

        ``ranks``: each path's ``_file_rank`` (default: its position in
        ``paths``); the batched cycle passes listing positions so scans
        of different profiles union into one total order. ``encoding``
        and ``delimiter`` default to the first path's sniff. ``header``:
        the paths' sniffed header (:func:`_sniff`); the scan names its
        columns from it as Spark would, so planning runs no job to read
        the header. Empty (the default, or a file whose first line is
        blank): Spark infers it. ``scratch_dir``: where UTF-16/32 files'
        UTF-8 copies go (:func:`~.csv_source.spark_scan_paths`); the
        caller removes it once the scan has run.

        File rank is a lookup in one literal map from each file's scan
        URI (:func:`~.csv_source.scan_uri`, which equals
        ``input_file_name()``) to its rank: no join, so planning and the
        lookup run no Spark job of their own, and files that share a
        basename (two zips' same-named members) share the scan. The
        probe is O(#files) per row, as is :func:`_rank_counts`. An
        unmatched file raises loudly rather than silently corrupting the
        ingest order.
        """
        if ranks is None:
            ranks = list(range(len(paths)))
        if encoding is None:
            encoding = csv_source.detect_encoding(paths[0]) or "utf-8"
        # key the rank on what Spark scans: a UTF-16 file's UTF-8 copy
        scanned, encoding = csv_source.spark_scan_paths(
            [str(p) for p in paths], encoding, scratch_dir
        )
        schema = None
        if header:
            schema = csv_source.header_schema(
                header,
                self.spark.conf.get("spark.sql.caseSensitive") == "true",
            )
        raw = read_raw_csv(self.spark, scanned, encoding, delimiter, schema)
        # loud reserved-name guard (review r10, the r7/r8 basename/_rn
        # pattern): a raw column named like a seq/rank column would be
        # silently OVERWRITTEN by withColumn below — and, because
        # SEQ_COLS are appended to normalize's expected set, such a
        # header would also fool width validation instead of being
        # rejected as an unknown column.
        clash = sorted(set(SEQ_COLS) & set(raw.columns))
        if clash:
            raise ValueError(
                f"raw CSV header uses reserved ingest column name(s) "
                f"{clash}: rename the source columns"
            )
        rank_of = F.create_map(*[
            F.lit(x)
            for p, r in zip(scanned, ranks)
            for x in (csv_source.scan_uri(self.spark, p), r)
        ])
        rank = F.coalesce(
            F.element_at(rank_of, F.input_file_name()),
            F.raise_error(
                F.concat(F.lit("unmatchable scan uri for file-rank: "),
                         F.input_file_name())
            ).cast("int"),
        )
        return (
            raw.withColumn("_file_rank", rank)
            .withColumn("_blk", F.col("_metadata.file_block_start"))
            .withColumn("_row", F.monotonically_increasing_id())
        )

    def build_plan(
        self,
        normalized: DataFrame,
        schema: TableSchema,
        last_id: int,
        history: DataFrame,
        loaded: tuple[Observation, list[int]],
    ) -> DataFrame:
        """Everything between the normalized scan and the write, as one
        lazy DataFrame: hash → J1 → J2 → casts → ids. ``normalized`` must
        carry SEQ_COLS (see _scan_with_seq). ``history``: the snapshot as
        already read for the watermark. ``loaded``: (Observation, file
        ranks) that counts each file's surviving rows on the id'd frame,
        before SEQ_COLS go."""
        # one partition: J1's clustering and the id window's single
        # task both hold after this one exchange, so J1, J2 and the ids
        # need no other
        hashed = with_row_hash(normalized, list(schema.data_columns))
        deduped = self_dedup_first(hashed.repartition(1), order_col=list(SEQ_COLS))
        novel = anti_join_history(deduped, history)
        casted = apply_typed_casts(
            novel, schema, passthrough=("row_hash", *SEQ_COLS)
        )
        with_ids = assign_dense_ids(
            casted, order_cols=list(SEQ_COLS), start=last_id
        )
        obs, ranks = loaded
        with_ids = with_ids.observe(obs, *_rank_counts(ranks))
        ingest_date = (
            F.lit(self.ingest_date).cast("date")
            if self.ingest_date
            else F.current_date()
        )
        return (
            with_ids.drop(*SEQ_COLS)
            .select(*schema.column_names)
            .withColumn("ingest_date", ingest_date)
        )

    def _ingest_table(
        self, files: list[_Routed], table_key: str, staging: Path
    ) -> dict[int, FileResult]:
        """One table's routed files of a cycle as ONE plan, keyed by rank.

        The driver first sniffs each file (:func:`_sniff`): a file whose
        scan would yield no row (:func:`~.csv_source.has_rows`) is EMPTY
        and is not scanned. The rest get one scan per sniffed profile,
        carrying each file's listing rank; a profile whose header fails
        the width check (P3) makes each of its files COLUMN_MISMATCH. The
        passing frames union by name into one :meth:`build_plan`: one
        history read, one watermark, one append. A table with no such
        frame commits no write. Everything ends in one ledger status
        write, after the commit.

        If anything fails before the commit, a table of several files
        runs this method again on each file alone, in listing order, so
        one bad file cannot sink its siblings and the outcome still
        matches a file-by-file cycle. A single file is not retried: a
        failed append makes it INSERT_ERROR, any other failure
        :func:`_unexpected`, and that status is its ledger write.
        """
        schema = self.registry.get(table_key)
        rename_map = self.registry.rename_map(table_key)
        expected = (*schema.data_columns, *SEQ_COLS)
        out: dict[int, FileResult] = {}
        frames: list[DataFrame] = []
        batched: list[_Routed] = []
        appending = False
        try:
            profiles: dict[tuple, list[_Routed]] = {}
            for f in files:
                profile = _sniff(f.scan_path)
                if csv_source.has_rows(f.scan_path, profile[0]):
                    profiles.setdefault(profile, []).append(f)
                else:
                    out[f.rank] = FileResult(f.path.name, ledger_mod.STATUS_EMPTY)
            for (enc, delim, header), group in profiles.items():
                raw = self._scan_with_seq(
                    [f.scan_path for f in group], [f.rank for f in group],
                    enc, delim, header, staging,
                )
                normalized, report = normalize(raw, expected, rename_map)
                if report.ok:
                    frames.append(normalized)
                    batched += group
                    continue
                for f in group:
                    out[f.rank] = FileResult(
                        f.path.name, ledger_mod.STATUS_COLUMN_MISMATCH,
                        error=report.error,
                    )
            if frames:
                ranks = sorted(f.rank for f in batched)
                union = reduce(DataFrame.unionByName, frames)
                obs_in, obs_out = Observation(), Observation()
                target = self.read_table(schema)
                plan = self.build_plan(
                    union.observe(obs_in, *_rank_counts(ranks)), schema,
                    next_id_watermark(target), target, (obs_out, ranks),
                )
                appending = True
                self._atomic_append(plan, schema)
        except Exception as exc:  # noqa: BLE001 — total function, D4
            if len(files) > 1:
                log.warning(
                    "batched ingest of %d file(s) for %s failed before "
                    "commit; ingesting them one by one", len(files),
                    table_key, exc_info=True,
                )
                out = {}
                for f in files:
                    out.update(self._ingest_table([f], table_key, staging))
                return out
            log.warning("ingest of %s for %s failed", files[0].path.name,
                        table_key, exc_info=True)
            status = (
                ledger_mod.STATUS_INSERT_ERROR if appending else _unexpected(exc)
            )
            out[files[0].rank] = FileResult(
                files[0].path.name, status, error=str(exc)
            )
        else:
            if frames:
                rows_in = _per_file_rows(obs_in, ranks) or {}
                rows_loaded = _per_file_rows(obs_out, ranks) or {}
                for f in batched:
                    out[f.rank] = FileResult(
                        f.path.name, ledger_mod.STATUS_UPLOADED,
                        rows_in=rows_in.get(f.rank, 0),
                        rows_loaded=rows_loaded.get(f.rank, 0),
                    )
        self.ledger.append_many(
            [(f.path.name, out[f.rank].status) for f in files]
        )
        return out

    # -- exports (S10/S11 parity + watermark write-back) -------------------
    def export_table_csv(
        self, table_key: str, out_dir: str | Path, single_file: bool = False
    ) -> Path:
        """Re-publish a table's cleaned snapshot as headered CSV
        (reference main.py:296-305 ``processed/{table}/`` handoff)."""
        from datawarehouse_backup_system_spark.operators.export import (
            export_snapshot_csv,
        )

        schema = self.registry.get(table_key)
        return export_snapshot_csv(
            self.read_table(schema), out_dir, single_file=single_file
        )

    def export_watermarks(
        self, schema_path: str | Path, out_path: str | Path
    ) -> Path:
        """Export a registry JSON copy with each table's ``last_id``
        refreshed from its snapshot MAX(id) (reference
        util/data_pushing.py:430-460, as a read-only export). Tables this
        engine never ingested keep their DECLARED last_id — writing 0
        over a nonzero declared watermark would make reference tooling
        re-extract everything."""
        from datawarehouse_backup_system_spark.operators.export import (
            export_registry_watermarks,
        )

        last_ids = {}
        for key, schema in self.registry.tables.items():
            wm = next_id_watermark(self.read_table(schema))
            if wm > 0:
                last_ids[key] = wm
        return export_registry_watermarks(schema_path, out_path, last_ids)

    # -- atomic snapshot append -------------------------------------------
    def _atomic_append(self, plan: DataFrame, schema: TableSchema) -> int:
        """Append ``plan`` to the snapshot through the table format
        (:mod:`~.table_format`): the shipped
        :class:`~.table_format.WriteIdParquetFormat` brackets the write
        with ledger markers so a mid-write crash never leaves an
        unrollbackable partial table; a Delta/Iceberg format would get
        atomicity from its transaction log instead. Returns rows written
        (Observation on the written plan — no post-write re-scan)."""
        return self.fmt.append(plan, self.table_path(schema), schema.table_name)

    def _publish_file(self, src: Path, dst: Path) -> None:
        """Move one staged data file into the live table. Override point
        for non-POSIX storage.

        On a local/HDFS filesystem ``rename`` is atomic: readers see the
        whole file or nothing. On object stores "rename" is copy+delete
        (S3A) — NOT atomic as an operation — but the protocol's crash
        safety does not depend on it: the destination carries the
        ``w<write_id>-`` prefix from the first byte, so a crash mid-copy
        leaves a partial object that :meth:`recover_writes` deletes BY
        NAME, never needing to read it (pytest: corrupt-partial recovery
        test). What IS lost off-POSIX is reader isolation during the
        copy window: a concurrent reader can observe a truncated object
        on stores that expose in-progress writes. On real S3 this does
        not occur (objects appear only at PUT completion); for stores
        where it can, override this to upload to the final key in one
        multipart commit, or route readers through the ledger's
        committed-write view."""
        src.rename(dst)

    def recover_writes(self, inflight_ttl_s: float = 3600.0) -> list[str]:
        """Roll back writes that began but never committed (crash between
        the begin and commit markers): delete that write-id's prefixed
        files from the live table, drop its inflight staging dir, and
        ledger ``write aborted``. The batch's landing files were never
        ledgered as uploaded, so the next cycle re-ingests them cleanly.
        Returns the aborted write ids (details + the orphaned-staging
        sweep: :meth:`~.table_format.WriteIdParquetFormat.recover`)."""
        return self.fmt.recover(
            lambda table_name: Path(self.warehouse_dir) / table_name,
            inflight_ttl_s,
        )

    # -- file drivers ------------------------------------------------------
    def _triage(
        self, path: Path, extract_dir: Path, table_key: str | None
    ) -> tuple[Path, str] | FileResult:
        """The driver-side steps of one landing file, in the reference's
        order and with no Spark job: extract a zip's first member into
        ``extract_dir``, check the CSV suffix, route by name (unless
        ``table_key`` is given). Returns ``(scan_path, table_key)`` for a
        routed CSV, else the file's terminal result for the caller to
        ledger."""
        name = path.name
        if path.suffix.lower() == ".zip":
            try:
                path = extract_zip_first_member(path, extract_dir)
            except (zipfile.BadZipFile, ValueError):
                # corrupt or empty archive (reference main.py:97)
                return FileResult(name, ledger_mod.STATUS_EXTRACTION_FAILED)
            except OSError as exc:
                return FileResult(
                    name, ledger_mod.STATUS_EXTRACTION_CRITICAL, error=str(exc)
                )
        # reference main.py:107 checks the (extracted) name's suffix;
        # beyond-reference: .csv.gz passes — the driver-side sniffers
        # gunzip transparently and Spark's csv reader has the codec
        suffixes = [s.lower() for s in path.suffixes]
        if not (suffixes[-1:] == [".csv"] or suffixes[-2:] == [".csv", ".gz"]):
            return FileResult(name, ledger_mod.STATUS_NOT_CSV)
        if table_key is None:
            table_key = self.router.route(name)
        if table_key is None or table_key not in self.registry.tables:
            return FileResult(name, ledger_mod.STATUS_NO_SCHEMA)
        return path, table_key

    def _staging(self) -> Path:
        """A fresh scratch dir for extracted zip members and transcoded
        copies (created on first use; the caller removes it)."""
        root = Path(self.staging_dir or self.warehouse_dir / "_staging")
        return root / uuid.uuid4().hex[:16]

    def process_file(
        self, path: str | Path, table_key: str | None = None
    ) -> FileResult:
        """One landing file through the cycle's core (:meth:`_ingest_files`
        on a one-path listing): the result and the ledger status that
        :meth:`run` would give it, keyed by the landing name (a zip's own
        name, not its member's). Total (D4): whatever escapes the core is
        still ledgered, as :func:`_unexpected`.

        ``table_key``: optional routing override; filename routing is
        skipped, so a file whose name the router cannot map is ingested
        into that table instead of being ledgered NO_SCHEMA.

        CONCURRENCY: building block — takes no :class:`WriterLease` and
        runs no recovery; :meth:`run` provides both. A caller invoking
        this directly on a shared warehouse must hold the lease (the
        write-id format is single-writer) and recover first, or an
        uncommitted crashed write's files leak into read_table's history
        view and anti-join freshly re-ingested rows away."""
        path = Path(path)
        try:
            return self._ingest_files([path], table_key)[0]
        except Exception as exc:  # noqa: BLE001 — total function, D4
            self.ledger.append(path.name, _unexpected(exc))
            return FileResult(path.name, _unexpected(exc), error=str(exc))

    def _ingest_files(
        self,
        paths: list[Path],
        table_key: str | None = None,
        heartbeat: Callable[[], None] = lambda: None,
    ) -> list[FileResult]:
        """The core of :meth:`run` and :meth:`process_file`: one result
        per path, in ``paths`` order.

        The driver triages every file first (no Spark job) and ledgers
        what it decides — EXTRACTION_FAILED, NOT_CSV, NO_SCHEMA — in one
        write. Routed files are grouped by table (``table_key`` overrides
        routing) and each table is ingested as one plan
        (:meth:`_ingest_table`), with ``heartbeat`` called after each.
        Extracted zip members and the UTF-8 copies of UTF-16/32 files
        live in one scratch dir, removed on return (left behind, it held
        a copy of every such file per cycle)."""
        staging = self._staging()
        results: dict[int, FileResult] = {}
        tables: dict[str, list[_Routed]] = {}
        try:
            for rank, path in enumerate(paths):
                try:
                    routed = self._triage(path, staging / str(rank), table_key)
                except Exception as exc:  # noqa: BLE001 — total function, D4
                    routed = FileResult(path.name, _unexpected(exc), error=str(exc))
                if isinstance(routed, FileResult):
                    results[rank] = routed
                    continue
                scan_path, key = routed
                tables.setdefault(key, []).append(
                    _Routed(rank, path, scan_path)
                )
            self.ledger.append_many(
                [(r.file_name, r.status) for _, r in sorted(results.items())]
            )
            for key, files in tables.items():
                results.update(self._ingest_table(files, key, staging))
                heartbeat()
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return [results[i] for i in range(len(paths))]

    def run(self, input_dir: str | Path) -> list[FileResult]:
        """One cycle (reference main(), minus the daemon sleep — cadence is
        the scheduler's job, C4): every unledgered landing file, one
        :class:`FileResult` each in listing order. Each table's files are
        ingested as one plan and one append (:meth:`_ingest_table`), with
        the same rows, ids and statuses as a file-by-file cycle.

        The cycle holds the warehouse :class:`~.table_format.WriterLease`
        throughout: the write-id format is single-writer (module
        docstring of ``plans/table_format.py``), so a second concurrent
        ``run`` on the same warehouse raises ``ConcurrentWriterError``
        instead of silently interleaving ledger batches."""
        from datawarehouse_backup_system_spark.plans.table_format import (
            WriterLease,
        )

        with WriterLease(self.warehouse_dir) as lease:
            self.recover_writes()  # roll back any crashed append first
            processed = self.ledger.processed_set()
            # heartbeat: a cycle longer than ttl_s would otherwise look
            # crashed to a waiting writer and get stolen
            return self._ingest_files(
                discover_files(input_dir, processed), heartbeat=lease.touch
            )
