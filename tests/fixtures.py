"""Deterministic dirty-CSV fixture generators (FIXTURES.md F-1..F-4).

Reduced-width versions of the reference's campaign_events table: one
column per type class and per dirty-value pattern, seed=42.
"""

from __future__ import annotations

import csv
import json
import random
from pathlib import Path

SEED = 42

RAW_HEADERS = [
    "Email", "prénom", "Campaign Event Type", "Event Date", "Event Datetime",
    "Mobile", "CODEPOSTAL_FACTURATION", "DATE DE NAISSANCE", "NB_ENFANTS",
    "NB_TOTAL_COMMANDES", "MONTANT_TOTAL_COMMANDES_EUR", "Campaign Name",
    "SMTP response",
]

RENAME_MAP = {
    "Email": "email",
    "prénom": "first_name",
    "Campaign Event Type": "campaign_event_type",
    "Event Date": "event_date",
    "Event Datetime": "event_datetime",
    "Mobile": "mobile",
    "CODEPOSTAL_FACTURATION": "billing_postal_code",
    "DATE DE NAISSANCE": "date_of_birth",
    "NB_ENFANTS": "number_of_children",
    "NB_TOTAL_COMMANDES": "total_orders",
    "MONTANT_TOTAL_COMMANDES_EUR": "total_order_amount_eur",
    "Campaign Name": "campaign_name",
    "SMTP response": "smtp_response",
}

REGISTRY = {
    "mini_campaign_events": {
        "table_name": "mini_campaign_events",
        "column_names": [
            "id", "email", "first_name", "campaign_event_type", "event_date",
            "event_datetime", "mobile", "billing_postal_code", "date_of_birth",
            "number_of_children", "total_orders", "total_order_amount_eur",
            "campaign_name", "smtp_response", "row_hash",
        ],
        "column_types": [
            "UInt64", "Nullable(String)", "Nullable(String)", "Nullable(String)",
            "Nullable(DateTime)", "Nullable(DateTime)", "Nullable(String)",
            "Nullable(String)", "Nullable(String)", "Nullable(Int64)",
            "Nullable(Int64)", "Nullable(Float64)", "Nullable(String)",
            "Nullable(String)", "String",
        ],
        "date_columns": ["event_date", "event_datetime"],
        "int_columns": ["number_of_children", "total_orders"],
        "float_columns": ["total_order_amount_eur"],
        "string_columns": ["email", "first_name", "campaign_event_type", "mobile",
                           "billing_postal_code", "campaign_name", "smtp_response"],
        "dob_columns": ["date_of_birth"],
        "last_id": 0,
    }
}

EVENT_TYPES = ["sent", "open", "click", "bounce", "unsub"]
FIRST_NAMES = ["Élise", "François", "Noël", "Anaïs", "Jean", ""]


def make_rows(n: int, rng: random.Random, with_smtp: bool) -> list[list[str]]:
    rows = []
    for i in range(n):
        email = f"user{rng.randrange(n * 2)}@example.com"
        if rng.random() < 0.02:
            email = "nan"
        elif rng.random() < 0.02:
            email = "<NA>"
        event_date = f"2024-0{rng.randrange(1, 10)}-1{rng.randrange(0, 10)}"
        if rng.random() < 0.03:
            event_date = rng.choice(["31/31/2024", ""])
        event_dt = (
            f"2024-03-0{rng.randrange(1, 10)} 1{rng.randrange(0, 10)}:30:00"
            if rng.random() < 0.5
            else f"0{rng.randrange(1, 10)}/03/2024 12:4{rng.randrange(0, 10)}"
        )
        mobile = f"3361234{rng.randrange(1000, 9999)}"
        if rng.random() < 0.10:
            mobile += ".0"
        postal = f"0{rng.randrange(1000, 9999)}"
        if rng.random() < 0.10:
            postal += ".0"
        dob = f"19{rng.randrange(50, 99)}-0{rng.randrange(1, 10)}-2{rng.randrange(0, 8)}"
        if rng.random() < 0.03:
            dob = "not-a-date"
        children = str(rng.randrange(0, 5))
        if rng.random() < 0.03:
            children = rng.choice(["two", ""])
        total_orders = str(rng.randrange(0, 50))
        amount = f"{rng.uniform(0, 500):.2f}"
        if rng.random() < 0.03:
            amount = "N/A"
        campaign = rng.choice(
            ["Spring Sale", "Hiver; Soldes", "Rentrée 2024", "VIP;Club"]
        )
        row = [
            email, rng.choice(FIRST_NAMES), rng.choice(EVENT_TYPES), event_date,
            event_dt, mobile, postal, dob, children, total_orders, amount, campaign,
        ]
        if with_smtp:
            row.append(f"250 OK ({rng.randrange(100)})")
        rows.append(row)
    return rows


def write_csv(path: Path, rows: list[list[str]], with_smtp: bool,
              delimiter: str = ";", encoding: str = "utf-8") -> Path:
    headers = RAW_HEADERS if with_smtp else RAW_HEADERS[:-1]
    with open(path, "w", newline="", encoding=encoding) as f:
        w = csv.writer(f, delimiter=delimiter, quoting=csv.QUOTE_MINIMAL)
        w.writerow(headers)
        w.writerows(rows)
    return path


def generate_f1(tmp: Path, n: int = 800) -> dict:
    """Three files: exact in-file duplicates (J1), 20% cross-file overlap
    (J2 — identical cell values incl. smtp), one file missing the
    smtp_response column entirely (P2 backfill)."""
    rng = random.Random(SEED)
    rows1 = make_rows(n, rng, with_smtp=True)
    # 8% exact duplicates of earlier rows (first occurrence must win)
    dup_idx = sorted({rng.randrange(len(rows1)) for _ in range(int(n * 0.08))})
    uniq1 = len({tuple(r) for r in rows1})
    for i in dup_idx:
        rows1.append(list(rows1[i]))

    # file 2: 20% verbatim overlap with file 1 + fresh remainder
    overlap = [list(r) for r in rows1[: int(n * 0.2)]]
    rows2 = overlap + make_rows(int(n * 0.8), random.Random(SEED + 1), with_smtp=True)

    # file 3: narrow export without the smtp column (P2 path)
    rows3 = make_rows(n // 4, random.Random(SEED + 2), with_smtp=False)

    f1 = write_csv(tmp / "last24h__20240301.csv", rows1, with_smtp=True)
    f2 = write_csv(tmp / "last24h__20240302.csv", rows2, with_smtp=True)
    f3 = write_csv(tmp / "last24h__20240303.csv", rows3, with_smtp=False)
    schema_path = tmp / "table_schema.json"
    schema_path.write_text(json.dumps(REGISTRY))
    rename_path = tmp / "rename_mapping.json"
    rename_path.write_text(json.dumps({"mini_campaign_events": RENAME_MAP}))
    return {
        "files": [f1, f2, f3],
        "schema_path": schema_path,
        "rename_path": rename_path,
        "n_file1": len(rows1),
        "uniq_file1": uniq1,
        "n_file2": len(rows2),
        "uniq_file2": len({tuple(r) for r in rows2}),
        "n_file3": len(rows3),
        "uniq_file3": len({tuple(r) for r in rows3}),
        "overlap_rows": [tuple(r) for r in overlap],
    }


def generate_dirty_day(tmp: Path, n: int = 300) -> dict:
    """One dirty landing day for the batched-vs-sequential ingest checks.

    ``tmp`` receives the registry JSONs and the day's files, in this
    listing (name) order: two ``;`` exports with cross-file duplicates
    (the second also repeats a history row), a ``,`` latin-1 export that
    repeats rows of both, a header-only file, a BOM'd utf-16 export that
    repeats latin-1 rows, a header-only WIDE file, a file made only of
    earlier rows, a wide file with data, a zipped narrow export, a
    corrupt zip, and an unroutable name. ``history`` is one earlier export
    kept outside the landing listing, to ingest first. ``expected`` maps
    each landing name to its ledger status."""
    import zipfile

    rng = random.Random(SEED + 7)
    tmp.mkdir(parents=True, exist_ok=True)
    hist_rows = make_rows(n, rng, with_smtp=True)
    rows1 = make_rows(n, rng, with_smtp=True)
    rows1 += [list(r) for r in rows1[: n // 10]]            # J1 in-file dups
    rows2 = (make_rows(n, rng, with_smtp=True)
             + [list(r) for r in rows1[: n // 5]]           # J2 cross-file
             + [list(hist_rows[0])])                        # J2 vs history
    rows3 = make_rows(n // 2, rng, with_smtp=True) + [list(r) for r in rows2[:20]]
    rows5 = make_rows(n // 2, rng, with_smtp=True) + [list(r) for r in rows3[:15]]
    rows9 = make_rows(n // 3, rng, with_smtp=False)
    (tmp / "history").mkdir(exist_ok=True)
    history = write_csv(tmp / "history" / "last24h__20240229.csv", hist_rows,
                        with_smtp=True)

    def name(i: int, tail: str = "csv") -> str:
        return f"last24h__20240301_{i:02d}.{tail}"

    write_csv(tmp / name(1), rows1, with_smtp=True)
    write_csv(tmp / name(2), rows2, with_smtp=True)
    write_csv(tmp / name(3), rows3, with_smtp=True, delimiter=",",
              encoding="iso-8859-1")
    write_csv(tmp / name(4), [], with_smtp=True)
    write_csv(tmp / name(5), rows5, with_smtp=True, encoding="utf-16")
    for i, rows in ((6, []), (8, make_rows(5, rng, with_smtp=True))):
        with open(tmp / name(i), "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f, delimiter=";")
            w.writerow(RAW_HEADERS + ["Extra Column"])
            w.writerows(r + ["x"] for r in rows)
    write_csv(tmp / name(7), [list(r) for r in rows1[5:25]], with_smtp=True)
    narrow = write_csv(tmp / "staged_narrow.csv", rows9, with_smtp=False)
    with zipfile.ZipFile(tmp / name(9, "zip"), "w") as zf:
        zf.write(narrow, arcname=name(9))
    narrow.unlink()
    (tmp / name(10, "zip")).write_bytes(b"PK\x03\x04 truncated archive")
    (tmp / "zz_unroutable.csv").write_text("a;b\n1;2\n", encoding="utf-8")
    uploaded = "uploaded to ClickHouse"
    expected = {
        name(1): uploaded, name(2): uploaded, name(3): uploaded,
        name(4): "empty file", name(5): uploaded, name(6): "empty file",
        name(7): uploaded, name(8): "column count mismatch",
        name(9, "zip"): uploaded, name(10, "zip"): "extraction failed",
        "zz_unroutable.csv": "no schema found",
    }
    schema_path = tmp / "table_schema.json"
    schema_path.write_text(json.dumps(REGISTRY))
    rename_path = tmp / "rename_mapping.json"
    rename_path.write_text(json.dumps({"mini_campaign_events": RENAME_MAP}))
    return {
        "dir": tmp,
        "history": history,
        "expected": expected,
        "schema_path": schema_path,
        "rename_path": rename_path,
    }
