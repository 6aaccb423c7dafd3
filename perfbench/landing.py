"""Deterministic dirty landing-zone generator for the ingest workloads.

Models the FIXTURES.md F-1 export shape (``last24h__*`` campaign-event
CSVs with dirty cells) without importing anything from ``tests/``, so a
test edit can never change the benchmark's inputs. Everything derives
from the ``seed`` argument: the same seed gives byte-identical files.

The generator is also the expected-outcome oracle. Rows are tracked by
their content identity (the cells as Spark's CSV reader sees them: an
empty cell reads as NULL, a narrow file's missing ``SMTP response`` is
NULL), which is exactly what the engine's ``row_hash`` keys on. Walking
the files in listing order it predicts each file's ledger status and
``rows_loaded`` after within-file, cross-file and history dedup.

Landing files carry a simulated mtime: day ``d`` is stamped
``CLOCK0 + d * 86400``. Retention passes run with ``now`` at noon of the
cycle's day, so an age pass removes exactly the files of day ``d - 7``
and never today's.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import io
import json
import os
import random
import zipfile
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: registry key the package's default router sends ``last24h__*`` files to
REGISTRY_KEY = "smallable_campaign_events"
TABLE = "campaign_events"

RAW_HEADERS = [
    "Email", "prénom", "Campaign Event Type", "Event Date", "Event Datetime",
    "Mobile", "CODEPOSTAL_FACTURATION", "DATE DE NAISSANCE", "NB_ENFANTS",
    "NB_TOTAL_COMMANDES", "MONTANT_TOTAL_COMMANDES_EUR", "Campaign Name",
    "SMTP response",
]
DATA_COLUMNS = [
    "email", "first_name", "campaign_event_type", "event_date",
    "event_datetime", "mobile", "billing_postal_code", "date_of_birth",
    "number_of_children", "total_orders", "total_order_amount_eur",
    "campaign_name", "smtp_response",
]
RENAME_MAP = dict(zip(RAW_HEADERS, DATA_COLUMNS))
COLUMN_TYPES = [
    "UInt64", "Nullable(String)", "Nullable(String)", "Nullable(String)",
    "Nullable(DateTime)", "Nullable(DateTime)", "Nullable(String)",
    "Nullable(String)", "Nullable(String)", "Nullable(Int64)",
    "Nullable(Int64)", "Nullable(Float64)", "Nullable(String)",
    "Nullable(String)", "String",
]
REGISTRY = {
    REGISTRY_KEY: {
        "table_name": TABLE,
        "column_names": ["id", *DATA_COLUMNS, "row_hash"],
        "column_types": COLUMN_TYPES,
        "date_columns": ["event_date", "event_datetime"],
        "int_columns": ["number_of_children", "total_orders"],
        "float_columns": ["total_order_amount_eur"],
        "string_columns": ["email", "first_name", "campaign_event_type",
                           "mobile", "billing_postal_code", "campaign_name",
                           "smtp_response"],
        "dob_columns": ["date_of_birth"],
        "last_id": 0,
    }
}

# ledger status strings (the package's ledger vocabulary)
UPLOADED = "uploaded to ClickHouse"
EMPTY = "empty file"
NO_SCHEMA = "no schema found"
COLUMN_MISMATCH = "column count mismatch"
EXTRACTION_FAILED = "extraction failed"

IN_FILE_DUP = 0.08              # share of a file's rows that repeat earlier ones
CROSS_FILE_DUP = 0.20           # ... copied from earlier files of the same day
HISTORY_DUP = 0.03              # ... copied from rows already in the table

CLOCK0 = 1_600_000_000          # simulated mtime of day 0
DAY0 = dt.date(2024, 3, 1)      # calendar date of day 0
RETENTION_DAYS = 7

EVENT_TYPES = ["sent", "open", "click", "bounce", "unsub"]
FIRST_NAMES = ["Élise", "François", "Noël", "Anaïs", "Jean", "Zoé", ""]
CAMPAIGNS = ["Spring Sale", "Hiver; Soldes", "Rentrée 2024", "VIP;Club"]


@dataclass(frozen=True)
class Shape:
    """Size and dirt profile of one ingest workload."""

    main_files: int          # same-profile exports per day
    rows_per_file: int
    dirty: bool              # add the divergent-profile and the bad files
    zipped_main: int         # how many main files arrive zipped
    history_rows: int        # bootstrap history written before the first cycle


SHAPES = {
    "ingest_small_files": Shape(
        main_files=2, rows_per_file=2000, dirty=True, zipped_main=0, history_rows=20_000,
    ),
    "ingest_large_files": Shape(
        main_files=2, rows_per_file=24_000, dirty=False, zipped_main=1, history_rows=60_000,
    ),
}


@dataclass
class FileSpec:
    name: str
    status: str
    rows_in: int = 0          # data rows in the file (uploaded files only)
    rows_loaded: int = 0


@dataclass
class Day:
    index: int
    date: str                 # ISO date, also the ingest_date partition
    dir: Path
    files: list[FileSpec] = field(default_factory=list)

    @property
    def rows_loaded(self) -> int:
        return sum(f.rows_loaded for f in self.files)

    @property
    def landing_bytes(self) -> int:
        return sum(p.stat().st_size for p in self.dir.iterdir())


def day_date(index: int) -> str:
    return (DAY0 + dt.timedelta(days=index)).isoformat()


def day_mtime(index: int) -> float:
    return float(CLOCK0 + index * 86400)


def retention_now(index: int) -> float:
    """Noon of day ``index`` on the simulated clock."""
    return day_mtime(index) + 43200.0


def identity(row: list[str], with_smtp: bool) -> tuple:
    """Content key as the engine sees it after the CSV read."""
    cells = [c if c != "" else None for c in row]
    if not with_smtp:
        cells.append(None)
    return tuple(cells)


def row_hash(ident: tuple) -> str:
    """The engine's canonical row_hash over an identity tuple."""
    text = "\x01".join("<NULL>" if c is None else c for c in ident)
    return hashlib.md5(text.encode("utf-8")).hexdigest()


class LandingGenerator:
    """Writes one workload's landing zone and predicts every outcome."""

    def __init__(self, seed: int, shape: Shape, root: Path):
        self.seed = seed
        self.shape = shape
        self.root = Path(root)
        self.landing = self.root / "landing"
        self.serial = 0
        #: content identities already in the table
        self.seen: set[tuple] = set()
        self.loaded_rows: list[list[str]] = []   # wide rows, for history dups
        self.watermark = 0

    # -- registry files ---------------------------------------------------
    def write_registry(self) -> tuple[Path, Path]:
        self.root.mkdir(parents=True, exist_ok=True)
        schema = self.root / "table_schema.json"
        schema.write_text(json.dumps(REGISTRY, indent=2))
        rename = self.root / "rename_mapping.json"
        rename.write_text(json.dumps({REGISTRY_KEY: RENAME_MAP}, indent=2))
        return schema, rename

    # -- rows -------------------------------------------------------------
    def _fresh_row(self, rng: random.Random, with_smtp: bool) -> list[str]:
        self.serial += 1
        s = self.serial
        email = f"user{s}@example.com"
        r = rng.random()
        if r < 0.02:
            email = "nan"
        elif r < 0.04:
            email = "<NA>"
        event_date = f"2024-0{rng.randrange(1, 10)}-1{rng.randrange(10)}"
        if rng.random() < 0.03:
            event_date = rng.choice(["31/31/2024", ""])
        if rng.random() < 0.5:
            event_dt = f"2024-03-0{rng.randrange(1, 10)} 1{rng.randrange(10)}:30:00"
        else:
            event_dt = f"0{rng.randrange(1, 10)}/03/2024 12:4{rng.randrange(10)}"
        # the serial makes every fresh row unique, so only the injected
        # copies are duplicates
        mobile = f"336{s:08d}" + (".0" if rng.random() < 0.10 else "")
        postal = f"0{rng.randrange(1000, 9999)}" + (".0" if rng.random() < 0.10 else "")
        dob = f"19{rng.randrange(50, 99)}-0{rng.randrange(1, 10)}-2{rng.randrange(8)}"
        if rng.random() < 0.03:
            dob = "not-a-date"
        children = str(rng.randrange(5))
        if rng.random() < 0.03:
            children = rng.choice(["two", ""])
        amount = f"{rng.uniform(0, 500):.2f}"
        if rng.random() < 0.03:
            amount = "N/A"
        row = [
            email, rng.choice(FIRST_NAMES), rng.choice(EVENT_TYPES), event_date,
            event_dt, mobile, postal, dob, children, str(rng.randrange(50)),
            amount, rng.choice(CAMPAIGNS),
        ]
        if with_smtp:
            row.append(f"250 OK ({rng.randrange(100)})")
        return row

    def _file_rows(self, rng: random.Random, n: int, with_smtp: bool,
                   day_pool: list[list[str]]) -> list[list[str]]:
        """n rows: fresh rows plus cross-file copies (from earlier files of
        the same day) and history copies, then within-file duplicates."""
        n_dup = int(n * IN_FILE_DUP)
        base = n - n_dup
        rows: list[list[str]] = []
        n_cross = int(base * CROSS_FILE_DUP) if (with_smtp and day_pool) else 0
        n_hist = int(base * HISTORY_DUP) if (with_smtp and self.loaded_rows) else 0
        rows += [list(rng.choice(day_pool)) for _ in range(n_cross)]
        rows += [list(rng.choice(self.loaded_rows)) for _ in range(n_hist)]
        rows += [self._fresh_row(rng, with_smtp)
                 for _ in range(base - n_cross - n_hist)]
        rng.shuffle(rows)
        for _ in range(n_dup):
            rows.append(list(rows[rng.randrange(len(rows))]))
        return rows

    # -- files ------------------------------------------------------------
    @staticmethod
    def _csv_bytes(rows: list[list[str]], headers: list[str], delimiter: str,
                   encoding: str) -> bytes:
        buf = io.StringIO(newline="")
        w = csv.writer(buf, delimiter=delimiter, quoting=csv.QUOTE_MINIMAL,
                       lineterminator="\n")
        w.writerow(headers)
        w.writerows(rows)
        return buf.getvalue().encode(encoding)

    def _load(self, spec: FileSpec, rows: list[list[str]], with_smtp: bool) -> None:
        """Predict one uploaded file: first occurrences not yet in the table."""
        spec.status = UPLOADED
        spec.rows_in = len(rows)
        for r in rows:
            ident = identity(r, with_smtp)
            if ident in self.seen:
                continue
            self.seen.add(ident)
            if with_smtp:
                self.loaded_rows.append(r)
            spec.rows_loaded += 1
        self.watermark += spec.rows_loaded

    def _kinds(self) -> list[str]:
        sh = self.shape
        kinds = ["main"] * sh.main_files
        if sh.dirty:
            mid = len(kinds) // 2
            kinds[mid:mid] = ["comma_latin1", "utf16", "zip_narrow"]
            mid = len(kinds) // 2
            kinds[mid:mid] = ["corrupt_zip", "wide", "header_only"]
            kinds.append("unroutable")
        zipped = 0
        for i, k in enumerate(kinds):
            if k == "main" and zipped < sh.zipped_main:
                kinds[i] = "zip"
                zipped += 1
        return kinds

    def make_day(self, index: int) -> Day:
        """Write day ``index``'s landing dir; return its expected outcomes."""
        rng = random.Random(f"{self.seed}:{index}")
        date = day_date(index)
        stamp = date.replace("-", "")
        day = Day(index, date, self.landing / stamp)
        day.dir.mkdir(parents=True, exist_ok=True)
        n = self.shape.rows_per_file
        pool: list[list[str]] = []
        for k, kind in enumerate(self._kinds()):
            name = f"last24h__{stamp}_{k:02d}.csv"
            spec = FileSpec(name, UPLOADED)
            wide = "narrow" not in kind
            headers = RAW_HEADERS if wide else RAW_HEADERS[:-1]
            if kind == "unroutable":
                spec.name = f"crm_dump_{stamp}.csv"
                spec.status = NO_SCHEMA
                data = self._csv_bytes([self._fresh_row(rng, True)], headers, ";", "utf-8")
            elif kind == "corrupt_zip":
                spec.name = name[:-4] + ".zip"
                spec.status = EXTRACTION_FAILED
                data = b"PK\x03\x04 truncated archive " + bytes(rng.randrange(256) for _ in range(64))
            elif kind == "header_only":
                spec.status = EMPTY
                data = self._csv_bytes([], headers, ";", "utf-8")
            elif kind == "wide":
                spec.status = COLUMN_MISMATCH
                rows = [self._fresh_row(rng, True) + ["x"] for _ in range(50)]
                data = self._csv_bytes(rows, headers + ["Extra Column"], ";", "utf-8")
            else:
                rows = self._file_rows(rng, n, wide, pool)
                delim = "," if "comma" in kind else ";"
                enc = ("iso-8859-1" if "latin1" in kind
                       else "utf-16" if kind == "utf16" else "utf-8")
                data = self._csv_bytes(rows, headers, delim, enc)
                self._load(spec, rows, wide)
                if wide:
                    pool.extend(rows)
                if kind.startswith("zip"):
                    spec.name = name[:-4] + ".zip"
                    buf = io.BytesIO()
                    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
                        info = zipfile.ZipInfo(name, date_time=(2024, 3, 1, 0, 0, 0))
                        info.compress_type = zipfile.ZIP_DEFLATED
                        zf.writestr(info, data)
                    data = buf.getvalue()
            path = day.dir / spec.name
            path.write_bytes(data)
            os.utime(path, (day_mtime(index), day_mtime(index)))
            day.files.append(spec)
        day.files.sort(key=lambda f: f.name)
        return day

    def make_archive_day(self, index: int) -> list[Path]:
        """Old exports that only retention touches (already ingested long
        ago in the simulated history); aged as day ``index``."""
        rng = random.Random(f"{self.seed}:archive:{index}")
        stamp = day_date(index).replace("-", "")
        d = self.landing / stamp
        d.mkdir(parents=True, exist_ok=True)
        out = []
        for k in range(2):
            p = d / f"last24h__{stamp}_{k:02d}.csv"
            rows = [self._fresh_row(rng, True) for _ in range(20)]
            p.write_bytes(self._csv_bytes(rows, RAW_HEADERS, ";", "utf-8"))
            os.utime(p, (day_mtime(index), day_mtime(index)))
            out.append(p)
        return out

    # -- bootstrap history ------------------------------------------------
    def write_history(self, table_dir: Path, first_day: int, days: int) -> int:
        """Write ``history_rows`` rows as pre-protocol (version-0) parquet
        files under ``ingest_date=`` partitions, ids 1..N; returns N."""
        rng = random.Random(f"{self.seed}:history")
        n = self.shape.history_rows
        per_day = max(n // days, 1)
        written = 0
        for d in range(days):
            rows = [self._fresh_row(rng, True)
                    for _ in range(per_day if d < days - 1 else n - written)]
            idents = [identity(r, True) for r in rows]
            ids = list(range(self.watermark + 1, self.watermark + 1 + len(rows)))
            self.watermark += len(rows)
            self.seen.update(idents)
            self.loaded_rows.extend(rows)
            written += len(rows)
            part = table_dir / f"ingest_date={day_date(first_day + d)}"
            part.mkdir(parents=True, exist_ok=True)
            pq.write_table(_typed_table(ids, idents), part / "part-00000-bootstrap.parquet")
        return written


# -- typed history rows (a plain rendering of the registry casts) ----------

_NULLS = {"<NA>", "nan", ""}
_TS_FORMATS = ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d", "%d/%m/%Y %H:%M:%S",
               "%d/%m/%Y %H:%M", "%d/%m/%Y")


def _scrub(c):
    return None if c is None or c.strip() in _NULLS else c


def _ts(values) -> pa.Array:
    """First format that parses wins; none parses → NULL."""
    arr = pa.array([_scrub(c) for c in values], pa.string())
    parsed = [pc.strptime(arr, format=f, unit="us", error_is_null=True)
              for f in _TS_FORMATS]
    return pc.coalesce(*parsed).cast(pa.timestamp("us", "UTC"))


def _num(c, kind):
    c = _scrub(c)
    try:
        v = float(c)
    except (TypeError, ValueError):
        return None
    if kind is int:
        return int(v) if v == int(v) else None
    return v


def _strip0(values) -> pa.Array:
    out = []
    for c in values:
        c = _scrub(c)
        out.append(c[:-2] if c is not None and c.endswith(".0") else c)
    return pa.array(out, pa.string())


def _typed_table(ids: list[int], idents: list[tuple]) -> pa.Table:
    cols = list(zip(*idents))
    dob = _ts(cols[7])
    arrays = {
        "id": pa.array(ids, pa.int64()),
        "email": _strip0(cols[0]),
        "first_name": _strip0(cols[1]),
        "campaign_event_type": _strip0(cols[2]),
        "event_date": _ts(cols[3]),
        "event_datetime": _ts(cols[4]),
        "mobile": _strip0(cols[5]),
        "billing_postal_code": _strip0(cols[6]),
        "date_of_birth": pc.strftime(dob, format="%Y-%m-%d"),
        "number_of_children": pa.array([_num(c, int) for c in cols[8]], pa.int64()),
        "total_orders": pa.array([_num(c, int) for c in cols[9]], pa.int64()),
        "total_order_amount_eur": pa.array([_num(c, float) for c in cols[10]], pa.float64()),
        "campaign_name": _strip0(cols[11]),
        "smtp_response": _strip0(cols[12]),
        "row_hash": pa.array([row_hash(i) for i in idents], pa.string()),
    }
    return pa.table(arrays)
