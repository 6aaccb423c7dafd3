"""CSV source with encoding/delimiter sniffing and zip pre-staging.

Covers reference operators S3-S7 (SURVEY §2.1):

- S3 zip extraction (first member) — ``util/data_processing.py:40-62``
- S4 encoding sniff (BOM + trial decode, 100 KB sample) —
  ``util/data_processing.py:71-105``
- S5 delimiter sniff (mode of candidate counts in the first line) —
  ``util/data_processing.py:64-69``
- S6/S7 chunked all-string CSV scan — ``util/data_processing.py:171-176``,
  ``util/data_pushing.py:311-325``; Spark's partitioned scan subsumes
  chunking, and the utf-8→latin-1 fallback happens at sniff time
  (``detect_encoding``'s trial chain) since Spark, unlike pandas,
  surfaces no decode error a read-time retry could catch.

Sniffing is inherently a driver-side pre-pass (Spark cannot sniff
per-file); it reads only the first ``sample_size`` bytes of each file, so
it stays O(files), never O(bytes) — at 100 TB the cost is the listing, not
the data. Files are then grouped by (encoding, delimiter) so each group is
ONE ``spark.read.csv`` over many paths: the scan itself stays fully
distributed.
"""

from __future__ import annotations

import codecs
import gzip
import re
import sys
import tempfile
import zipfile
from collections import Counter
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SAMPLE_SIZE = 100_000  # parity: detect_encoding(sample_size=100000)
CANDIDATE_DELIMITERS = (",", ";", "\t", "|")

# BOM → codec. 16/32-bit BOMs map to the endianness-agnostic codec so
# both Python and the JVM consume (strip) the BOM during decode instead
# of surfacing U+FEFF as data in the first header field.
_BOMS: tuple[tuple[bytes, str], ...] = (
    (codecs.BOM_UTF8, "utf-8"),
    (codecs.BOM_UTF32_LE, "utf-32"),
    (codecs.BOM_UTF32_BE, "utf-32"),
    (codecs.BOM_UTF16_LE, "utf-16"),
    (codecs.BOM_UTF16_BE, "utf-16"),
)


def _is_gzip(file_path: str | Path) -> bool:
    with Path(file_path).open("rb") as f:
        return f.read(2) == b"\x1f\x8b"


def _open_bytes(file_path: str | Path):
    """Raw-byte reader, transparently gunzipping: sniffers must see the
    CSV text, not the compressed stream (a gz magic header would both
    defeat BOM detection and trial-decode as latin-1 garbage). Spark
    itself reads .csv.gz through its codec, so only this driver-side
    sampling needs the special case."""
    p = Path(file_path)
    return gzip.open(p, "rb") if _is_gzip(p) else p.open("rb")


def _open_text(file_path: str | Path, encoding: str):
    p = Path(file_path)
    if _is_gzip(p):
        return gzip.open(p, "rt", encoding=encoding, errors="replace", newline="")
    return open(p, encoding=encoding, errors="replace", newline="")


def detect_encoding(file_path: str | Path, sample_size: int = DEFAULT_SAMPLE_SIZE) -> str | None:
    """BOM check first, then trial-decode of a bounded sample.

    Two hardenings of the trial chain:

    - the sample is hard-truncated at ``sample_size``, so a multi-byte
      character straddling the boundary must not fail the trial. r7
      dropped a FIXED 3 trailing bytes, which could bisect a COMPLETE
      trailing sequence and misdetect valid UTF-8 as iso-8859-1
      (ADVICE r7); r8 uses the codec's own incremental decoder with
      ``final=False`` — an incomplete tail is buffered (benign) while a
      genuinely invalid byte mid-sample still raises. The same applies
      to truncated BOM-less UTF-16 (odd-length tail, lone trailing high
      surrogate);
    - BOM-less utf-16 is tried ONLY when the sample contains NUL bytes
      (ASCII code points in UTF-16 always carry a 0x00 half, while real
      latin-1 text never does): any even-length byte string "decodes"
      as UTF-16, so an ungated trial misread every large latin-1 file
      as CJK mojibake and made the iso-8859-1 fallback unreachable.

    Returns a codec name or None when nothing decodes (the caller records a
    ledger failure instead of raising — D4 total-function discipline).
    """
    with _open_bytes(file_path) as f:
        sample = f.read(sample_size)
    if not sample:
        return "utf-8"
    for bom, enc in _BOMS:
        if sample.startswith(bom):
            return enc
    truncated = len(sample) == sample_size
    # NUL bytes: never genuine text in utf-8/latin-1 CSVs, but the 0x00
    # half of every ASCII code point in UTF-16 — so NULs route to the
    # utf-16 trial FIRST (NUL bytes are individually VALID utf-8, so
    # utf-8-first would claim BOM-less UTF-16 ASCII content)
    # BOM-less UTF-16 must be reported as the CONCRETE endianned codec,
    # never bare "utf-16": Python's incremental utf-16 decoder (which
    # backs every TextIOWrapper open downstream) raises "UTF-16 stream
    # does not start with BOM" on such files even with errors="replace",
    # and Java's "UTF-16" charset assumes big-endian — so the bare name
    # either crashes the read or mojibakes LE files (review r8).
    # Endianness comes from the DATA, not the host (review r9: pinning
    # host byte order silently mojibaked wrong-endian files — every
    # ASCII pair 'decodes' as a CJK code point, no decode error to
    # catch): in ASCII-heavy UTF-16 the 0x00 half of each code unit
    # sits at EVEN offsets for BE and ODD offsets for LE. Majority
    # vote over the sample; only a tie falls back to native order.
    even_nuls = sample[0::2].count(0)
    odd_nuls = sample[1::2].count(0)
    if even_nuls > odd_nuls:
        utf16 = "utf-16-be"
    elif odd_nuls > even_nuls:
        utf16 = "utf-16-le"
    else:
        utf16 = "utf-16-le" if sys.byteorder == "little" else "utf-16-be"
    trials = (
        (utf16, "utf-8", "iso-8859-1")
        if b"\x00" in sample
        else ("utf-8", "iso-8859-1")
    )
    for enc in trials:
        try:
            if truncated:
                # final=False: an incomplete trailing sequence is
                # buffered, not an error; invalid bytes mid-sample
                # still raise — exactly the truncation semantics
                codecs.getincrementaldecoder(enc)().decode(
                    sample, final=False
                )
            else:
                sample.decode(enc)
            return enc
        except (UnicodeDecodeError, UnicodeError):
            continue
    return None


def detect_delimiter(file_path: str | Path, encoding: str = "utf-8") -> str:
    """Mode of candidate-delimiter counts in the first line (reference S5)."""
    with _open_text(file_path, encoding) as f:
        first_line = f.readline()
    counts = Counter({d: first_line.count(d) for d in CANDIDATE_DELIMITERS})
    best, n = counts.most_common(1)[0]
    return best if n > 0 else ","


def extract_zip_first_member(zip_path: str | Path, output_dir: str | Path) -> Path:
    """Unzip, return the FIRST member (reference takes ``namelist()[0]``,
    util/data_processing.py:55). Driver-side pre-stage: zip is not a
    splittable codec, so at scale this step belongs in the landing zone
    (or a binaryFile+mapPartitions path for many small zips)."""
    out = Path(output_dir)
    out.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(zip_path) as zf:
        members = zf.namelist()
        if not members:
            raise ValueError(f"empty zip archive: {zip_path}")
        # use extract()'s RETURN value: it sanitizes hostile member
        # names (absolute paths, dot-dot) — recomputing `out / name`
        # would escape the staging dir for '/etc/passwd'-style names
        # (Path('/x') on the rhs replaces the lhs entirely) and point
        # at a nonexistent path for 'a/../b.csv' (review r7)
        extracted = zf.extract(members[0], out)
    return Path(extracted)


def read_header(
    file_path: str | Path, encoding: str | None = None, delimiter: str | None = None
) -> list[str]:
    """Driver-side header peek (first line only — O(1) per file). Used to
    validate that files batched into one multi-path scan share a header
    layout: Spark applies the FIRST file's header to every file, so a
    divergent file would be silently misparsed, not rejected."""
    if encoding is None:
        encoding = detect_encoding(file_path) or "utf-8"
    if delimiter is None:
        delimiter = detect_delimiter(file_path, encoding)
    import csv as _csv
    import io

    with _open_text(file_path, encoding) as f:
        line = f.readline()
    # a UTF-8 BOM read under plain 'utf-8' leaves U+FEFF on the first
    # field; strip it so BOM'd and BOM-less siblings batch together
    line = line.lstrip("\ufeff")
    return next(_csv.reader(io.StringIO(line), delimiter=delimiter), [])


#: what Java's ``String.trim`` strips: every char up to U+0020
_JAVA_TRIM = "".join(map(chr, range(0x21)))


def has_rows(file_path: str | Path, encoding: str | None = None) -> bool:
    """Whether :func:`read_raw_csv`'s scan of the file yields any row,
    decided on the driver (reference: pandas reads no rows \u2192
    ``util/data_processing.py:467-470``).

    With ``multiLine`` off, Spark splits the file at ``\\n``, ``\\r`` or
    ``\\r\\n`` (as ``newline=""`` text reads do), skips every line that
    is blank after Java's ``trim`` (all chars \u2264 U+0020) and takes the
    first other line as the header. So the scan has rows iff the file
    has two non-blank lines; reading stops at the second. A leading BOM
    is not text: Hadoop's line reader drops one UTF-8 BOM, and the
    UTF-16/32 transcode drops them all."""
    if encoding is None:
        encoding = detect_encoding(file_path) or "utf-8"
    native = _spark_native_encoding(encoding)
    seen = 0
    with _open_text(file_path, encoding) as f:
        for i, line in enumerate(f):
            if i == 0:
                line = line.removeprefix("\ufeff") if native else line.lstrip("\ufeff")
            if line.strip(_JAVA_TRIM):
                seen += 1
                if seen == 2:
                    return True
    return False


def header_schema(
    header: list[str] | tuple[str, ...], case_sensitive: bool = False
) -> T.StructType:
    """The all-string schema Spark's CSV reader infers from ``header``,
    by its own naming rule: an empty cell becomes ``_c{i}``, and a name
    that repeats (case-insensitively unless ``case_sensitive``) gets its
    index appended — ``a,,A,b`` reads as ``a0, _c1, A2, b``. Handing it to
    :func:`read_raw_csv` spares the scan the job that reads the header."""
    key = (lambda n: n) if case_sensitive else str.lower
    seen = Counter(key(n) for n in header if n)
    return T.StructType(
        [
            T.StructField(
                f"_c{i}" if not n else f"{n}{i}" if seen[key(n)] > 1 else n,
                T.StringType(),
            )
            for i, n in enumerate(header)
        ]
    )


def _spark_native_encoding(enc: str) -> bool:
    """True when Spark's CSV scan handles the codec correctly as-is.

    Multi-byte-unit codecs (UTF-16/UTF-32) are NOT native (review r10,
    both confirmed live against Spark 4.1): Hadoop's line reader splits
    records on RAW ``\\n`` BYTES, which misaligns 2/4-byte code units —
    a BOM'd utf-16 file parsed as mojibake plus a phantom row, silently
    COMMITTED — and Spark's CSVOptions rejects Python's dashed
    endianned names ('utf-16-le'), crashing the read so the file was
    ledgered unexpected and skipped forever. Single-byte charsets and
    UTF-8 split correctly."""
    e = enc.lower().replace("-", "").replace("_", "")
    return not (e.startswith("utf16") or e.startswith("utf32"))


def _transcode_to_utf8(
    paths: list[str], encoding: str, scratch_dir: Path | None = None
) -> list[str]:
    """Driver-side chunked transcode of non-Spark-native files into
    UTF-8 staged copies, in a fresh subdir of ``scratch_dir`` (a dir
    the caller removes) or, without one, in process-exit-swept scratch.
    Basenames are preserved under per-index subdirs, so same-named
    files never collide. Mirrors the reference's single-node decode; at
    cluster scale, landing-zone normalization is where this belongs —
    UTF-16 CSVs are a legacy-export format, not a data-lake one. A
    ``.csv.gz`` copy is re-gzipped so the name's codec stays truthful.
    The leading BOM (kept by explicit-endian decodes) is stripped."""
    if scratch_dir is None:
        from ..scratch import new_scratch_root

        root = Path(new_scratch_root("dwbss-transcode-"))
    else:
        scratch_dir.mkdir(parents=True, exist_ok=True)
        root = Path(tempfile.mkdtemp(prefix="utf8-", dir=scratch_dir))
    out: list[str] = []
    for i, sp in enumerate(paths):
        p = Path(sp)
        tgt_dir = root / str(i)
        tgt_dir.mkdir(parents=True, exist_ok=True)
        tgt = tgt_dir / p.name
        opener = (
            (lambda q: gzip.open(q, "wt", encoding="utf-8", newline=""))
            if _is_gzip(p)
            else (lambda q: open(q, "w", encoding="utf-8", newline=""))
        )
        with _open_text(p, encoding) as src, opener(tgt) as dst:
            first = True
            while chunk := src.read(1 << 20):
                if first:
                    chunk = chunk.lstrip("\ufeff")
                    first = False
                dst.write(chunk)
        out.append(str(tgt))
    return out


def spark_scan_paths(
    paths: list[str], encoding: str, scratch_dir: Path | None = None
) -> tuple[list[str], str]:
    """The files, and their encoding, that Spark's scan of ``paths``
    reads: UTF-16/32 files become UTF-8 staged copies (see
    :func:`_spark_native_encoding`; ``scratch_dir`` as there), any
    other list is read as given."""
    if _spark_native_encoding(encoding):
        return paths, encoding
    return _transcode_to_utf8(paths, encoding, scratch_dir), "utf-8"


def scan_uri(spark: SparkSession, path: str) -> str:
    """``input_file_name()`` of the rows Spark scans from ``path``: the
    path qualified by its Hadoop filesystem, as a URI string. Spark
    spells spaces, non-ASCII and reserved characters this way, so no
    spelling of the bare name matches it."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.makeQualified(hpath).toUri().toString()


def _glob_literal(path: str) -> str:
    """``path`` with Hadoop's glob metacharacters backslash-escaped:
    Spark globs every path that holds one, so ``a[1].csv`` would match
    ``a1.csv`` (or nothing) instead of naming itself."""
    return re.sub(r"[\\\[\]{}*?]", lambda m: "\\" + m.group(), path)


def read_raw_csv(
    spark: SparkSession,
    paths: str | list[str],
    encoding: str | None = None,
    delimiter: str | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """All-string CSV read (schema-on-read parity with the reference's
    ``dtype=str``). When ``schema`` is None the header is trusted and every
    column is StringType; casts happen later (operators.cast).

    The reference's utf-8 → latin-1 READ-TIME retry (data_pushing.py:
    312-323) is realized at SNIFF time here: ``detect_encoding``'s trial
    chain falls from utf-8 to iso-8859-1 before Spark ever reads, so a
    non-UTF-8 file arrives with the right codec on the first read (Spark
    does not raise on decode errors the way pandas does, so a read-time
    retry hook would never fire). Each path names one file literally,
    glob metacharacters included."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    if encoding is None:
        encoding = detect_encoding(paths[0]) or "utf-8"
    if delimiter is None:
        delimiter = detect_delimiter(paths[0], encoding)
    # UTF-16/32: Spark both misparses and rejects these (review r10)
    paths, encoding = spark_scan_paths(paths, encoding)
    paths = [_glob_literal(p) for p in paths]
    reader = (
        spark.read.option("header", True)
        .option("sep", delimiter)
        .option("encoding", encoding)
        .option("inferSchema", False)
        .option("multiLine", False)
        .option("quote", '"')
        .option("escape", '"')
    )
    if schema is not None:
        df = reader.schema(schema).csv(paths)
    else:
        df = reader.csv(paths)
        # no inference: force every column to string regardless of header tricks
        df = df.select([df[c].cast("string").alias(c) for c in df.columns])
    return df
