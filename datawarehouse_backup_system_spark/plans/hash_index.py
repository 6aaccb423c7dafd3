"""Persisted bucketed row-hash index: shuffle-free J2 at warehouse scale.

The reference's cross-file dedup (J2, util/data_processing.py:209-393)
re-reads its whole processed history per new file. The Spark-first plain
path (`operators/dedup.anti_join_history`) already prunes the scan to the
one hash column, but every ingested file still SHUFFLES that column: at a
100 TB warehouse the hash projection alone is terabytes, re-partitioned
across the network once per file, every cycle, forever.

This module moves that shuffle to write time, once per row ever: a side
table holding exactly ``(row_hash, write_id, ingest_date)`` per committed
warehouse row, stored BUCKETED on ``row_hash``
(``DataFrameWriter.bucketBy`` — the same public mechanism
`operators/bucketed.py` pins). Each J2 then plans a sort-merge anti-join
with ONE Exchange — the batch side aligning to the index bucketing; the
history side reads co-located buckets with zero Exchange, every file,
every cycle (plan contract pinned in tests/test_hash_index.py).

Correctness contract — the index must agree EXACTLY with what the plain
path would read, through every mutation the warehouse supports (aborted
writes, crash rollback, retention partition drops, OPTIMIZE/RESTORE
rewrites, vacuum). Rather than trying to hook every mutator, the design
makes the LIVE FILE LISTING the single source of truth:

- Every data file the write-id format publishes is named
  ``w<write_id>-*`` under its ``ingest_date=<d>`` partition dir, so the
  listing yields the live ``(write_id, ingest_date)`` pair set — the
  same universe ``fmt.read`` scans (plain parquet read of whatever is
  on disk), so parity holds even for uncommitted-but-published files.
- The index is append-only; a tiny manifest records which pairs it
  holds. At read time the index is filtered to the LIVE pairs with a
  broadcast semi-join (which preserves the bucketed partitioning), so
  rows from aborted, rolled-back, dropped, vacuumed, or rewritten-away
  writes are ignored without ever rewriting the index.
- Live pairs MISSING from the manifest are caught up on the spot by
  reading just those files (batch-sized — the newly appended data),
  hashing column only. A table written before the index existed
  bootstraps itself the same way: the first over-threshold J2 pays one
  full hash-column scan (exactly what the plain path pays every file),
  then never again.
- Anything the listing cannot account for (a live data file without the
  write-id name shape) disables the index for that call — the caller
  falls back to the plain path. Fallback is always correct, only slower.

Single-writer discipline: index appends and manifest writes happen only
under the warehouse :class:`~.table_format.WriterLease` held by the
calling ingest cycle, same as every other warehouse mutation. The
manifest is rewritten whole via tmp+atomic-rename. Crash windows: dying
between the index append and the manifest write means the next call
re-appends those pairs — duplicate ``(row_hash, write_id, ingest_date)``
rows, which an anti-join is insensitive to (a bounded, self-limiting
redundancy, not a correctness hazard); dying before the append means the
pairs are simply still missing and catch up next call.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import warnings
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: auto-mode cutover: below this on-disk table footprint the hash
#: projection is small enough that the plain path's per-file shuffle
#: (often a broadcast under AQE) is cheaper than maintaining the index;
#: above it the per-file history re-shuffle dominates every cycle.
_INDEX_MIN_BYTES = 4 << 30

#: bucket count of a newly created index (an existing index keeps the
#: count its manifest records)
_INDEX_BUCKETS = 64

_FILE_RE = re.compile(r"^w([0-9a-f]{8,32})-.*\.parquet$")
_PART_RE = re.compile(r"^ingest_date=(.+)$")


def _index_root(warehouse_dir: Path, table_name: str) -> Path:
    return Path(warehouse_dir) / "_hashidx" / table_name


def _catalog_name(warehouse_dir: Path, table_name: str) -> str:
    """Session-catalog identifier, unique per (warehouse path, RAW table
    name) — the digest covers both (review r11: sanitizing the name
    alone collapsed 'a.b' and 'a_b' onto one catalog entry while their
    roots/manifests stayed separate, cross-wiring two tables' indexes);
    the sanitized name stays in the identifier for readability only."""
    digest = hashlib.md5(
        f"{Path(warehouse_dir).resolve()}\x00{table_name}".encode()
    ).hexdigest()[:10]
    safe = re.sub(r"[^a-zA-Z0-9_]", "_", table_name)
    return f"hashidx_{safe}_{digest}"


def _read_manifest(root: Path) -> dict | None:
    """None unless the manifest parses AND has the expected shape —
    ``man["entries"]`` is consumed before :func:`history_hash_frame`'s
    fallback try, so a valid-JSON-but-wrong-shape file (truncated
    rewrite restored from backup, hand edit) would otherwise crash the
    ingest with a KeyError instead of degrading to the plain path.
    Treating it as absent re-reads the live files into a fresh index —
    the bootstrap path, always correct."""
    try:
        man = json.loads((root / "manifest.json").read_text())
    except (OSError, ValueError):
        return None
    if (
        not isinstance(man, dict)
        or not isinstance(man.get("n_buckets"), int)
        or man["n_buckets"] < 1
        or not isinstance(man.get("entries"), dict)
        or not all(
            isinstance(w, str)
            and isinstance(dates, list)
            and all(isinstance(d, str) for d in dates)
            for w, dates in man["entries"].items()
        )
    ):
        return None
    return man


def _write_manifest(root: Path, man: dict) -> None:
    root.mkdir(parents=True, exist_ok=True)
    tmp = root / f".manifest.{os.getpid()}.tmp"
    tmp.write_text(json.dumps(man, sort_keys=True))
    os.replace(tmp, root / "manifest.json")


def live_write_pairs(
    table_path: Path,
) -> (
    tuple[set[tuple[str, str]], dict[tuple[str, str], list[str]], int]
    | None
):
    """The live ``(write_id, ingest_date)`` pair set, the data files
    carrying each pair, and the total data-file byte size, from ONE
    walk of the table's file listing — the ground truth the plain-path
    read scans (the size rides along so the caller's footprint
    threshold never needs a second recursive walk — review r11).
    Returns None when any live data file does not fit the write-id
    format's naming (the index then cannot claim to cover the table
    and the caller must fall back).

    Deliberately pathlib-local (NOT the graph._stage_du Hadoop-FS
    pattern): the write-id format this indexes is POSIX-by-design
    (WriterLease hard links, os.rename publishes), so a scheme'd
    warehouse path cannot arise from a working deployment; on one this
    returns empty ⇒ the J2 auto-switch stays on the always-correct
    plain path rather than half-trusting a listing the lease protocol
    never covered."""
    pairs: set[tuple[str, str]] = set()
    files: dict[tuple[str, str], list[str]] = {}
    n_bytes = 0
    base = Path(table_path)
    if not base.exists():
        return set(), {}, 0
    for f in base.rglob("*.parquet"):
        rel = f.relative_to(base)
        if any(part.startswith(("_", ".")) for part in rel.parts):
            continue  # manifests/inflight — invisible to the read, skip
        m = _FILE_RE.match(f.name)
        pm = _PART_RE.match(f.parent.name)
        if not m or not pm:
            return None  # a live file the index cannot account for
        key = (m.group(1), pm.group(1))
        pairs.add(key)
        files.setdefault(key, []).append(str(f))
        try:
            n_bytes += f.stat().st_size
        except OSError:
            pass
    return pairs, files, n_bytes


def _ensure_table(
    spark: SparkSession, name: str, root: Path, n_buckets: int
) -> None:
    """Re-attach the external bucketed table after a session restart:
    the parquet data + manifest persist under the warehouse, but the
    session catalog entry does not."""
    if spark.catalog.tableExists(name):
        return
    spark.sql(
        f"CREATE TABLE {name} "
        "(row_hash STRING, write_id STRING, ingest_date STRING) "
        "USING PARQUET "
        "CLUSTERED BY (row_hash) SORTED BY (row_hash) "
        f"INTO {n_buckets} BUCKETS "
        f"LOCATION '{root / 'data'}'"
    )


def history_hash_frame(
    spark: SparkSession,
    warehouse_dir: Path,
    table_path: Path,
    table_name: str,
    n_buckets: int | None = None,
    listed: tuple | None = None,
) -> DataFrame | None:
    """The committed-history ``row_hash`` frame for J2, bucketed on
    ``row_hash`` so the anti-join never shuffles it. None ⇒ the index
    cannot serve this table right now; use the plain path.

    ``listed``: a :func:`live_write_pairs` result the caller already
    computed (the ingest path's footprint probe shares the walk).

    Must be called under the warehouse WriterLease (catch-up appends).
    """
    listed = live_write_pairs(table_path) if listed is None else listed
    if listed is None:
        return None
    pairs, pair_files, _n_bytes = listed
    if not pairs:
        return None  # empty history: the plain anti-join is free
    root = _index_root(Path(warehouse_dir), table_name)
    man = _read_manifest(root) or {
        "n_buckets": int(n_buckets or _INDEX_BUCKETS),
        "entries": {},
    }
    have = {
        (w, d) for w, dates in man["entries"].items() for d in dates
    }
    missing = sorted(pairs - have)
    name = _catalog_name(Path(warehouse_dir), table_name)
    try:
        if missing:
            to_read = [p for key in missing for p in pair_files[key]]
            src = spark.read.option("basePath", str(table_path)).parquet(
                *to_read
            )
            rows = src.select(
                F.col("row_hash").cast("string").alias("row_hash"),
                F.regexp_extract(
                    F.input_file_name(), r"/w([0-9a-f]+)-[^/]*$", 1
                ).alias("write_id"),
                F.col("ingest_date").cast("string").alias("ingest_date"),
            )
            data_dir = root / "data"
            data_dir.mkdir(parents=True, exist_ok=True)
            # THE bucketed-write recipe, imported not re-implemented
            # (review r11 — the shards.py single-sourcing rule)
            from ..operators.bucketed import write_bucketed

            write_bucketed(
                rows, name, ["row_hash"], man["n_buckets"],
                sort_cols=["row_hash"], path=str(data_dir), mode="append",
            )
            for w, d in missing:
                dates = man["entries"].setdefault(w, [])
                if d not in dates:
                    dates.append(d)
            _write_manifest(root, man)
        # manifest-overclaim guard (review r11): a manifest claiming
        # coverage over an index whose parquet was lost (partial
        # restore, manual delete) would otherwise serve an EMPTY hash
        # frame and silently re-admit every previously-seen row —
        # provably inconsistent, so refuse and fall back.
        if not any((root / "data").glob("*.parquet")):
            raise RuntimeError(
                "index manifest claims coverage but the index data dir "
                "holds no parquet — lost/partially-restored index"
            )
        _ensure_table(spark, name, root, man["n_buckets"])
        idx = spark.table(name)
        live = spark.createDataFrame(
            sorted(pairs), "write_id string, ingest_date string"
        )
        # broadcast semi-join preserves the bucketed (hashpartitioning
        # on row_hash) output of the index scan, so the downstream
        # anti-join still plans zero Exchange on this side. Built
        # INSIDE the try (review r11): an analysis error here — e.g. a
        # foreign same-named catalog table with the wrong schema — must
        # fall back, not crash the ingest.
        return idx.join(
            F.broadcast(live), ["write_id", "ingest_date"], "left_semi"
        ).select("row_hash")
    except Exception as exc:  # noqa: BLE001 — fallback is always correct
        warnings.warn(
            f"hash index for {table_name!r} unavailable "
            f"({type(exc).__name__}: {exc}); J2 falling back to the "
            "plain history scan",
            RuntimeWarning,
            stacklevel=2,
        )
        return None
