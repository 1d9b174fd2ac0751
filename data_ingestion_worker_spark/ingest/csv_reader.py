"""CSV ingest edge: encoding + delimiter sniffing, header/value cleanup.

Reference behavior being re-specified (SURVEY.md §2.1 S5-S8):

- **Encoding fallback** (s3_service.py:65-94): try utf-8, latin-1, cp1252,
  iso-8859-1, windows-1252 in order, first success wins.  The reference
  decodes the *entire* file per attempt; we sniff on a bounded prefix
  (latin-1 never fails, so the chain provably terminates there — the
  README itself documents this, README.md:121-124).
- **Delimiter sniffing** (s3_service.py:107-257, ADR-004): try ``;`` then
  ``,`` then tab; accept the first delimiter yielding >1 field, at least
  one non-empty value, and no rival delimiter embedded in the field names.
  The reference re-parses the whole file per candidate; we sniff on the
  header + first data line only.
- **Header/value cleanup** (s3_service.py:148-174): trim header names,
  drop empty-name columns (trailing ``;;``), trim all values, drop rows
  with no non-empty value.

The sniff is a driver-side peek at one file prefix (at most
``SNIFF_BYTES``), read through the path's Hadoop ``FileSystem`` — the
same client the scan uses, so ``s3a://`` and local paths behave alike —
and it starts no Spark job.  The actual data scan is a single
distributed ``spark.read.csv`` with the chosen options — at 100 TB the
sniff cost stays O(1) while the scan parallelizes.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import configure

#: Priority-ordered candidate encodings (s3_service.py:65-94).  latin-1
#: accepts any byte sequence, so the chain always terminates by step 2.
ENCODINGS = ["utf-8", "latin-1", "cp1252", "iso-8859-1", "windows-1252"]

#: Priority-ordered candidate delimiters (ADR-004: semicolon beats comma
#: because European exports use ``;`` with ``,`` inside values).
DELIMITERS = [";", ",", "\t"]

SNIFF_BYTES = 64 * 1024

#: Spark's CSV reader accepts a fixed charset list (iso-8859-1, us-ascii,
#: utf-16*, utf-32, utf-8).  The reference's fallback chain provably
#: terminates at latin-1 (it decodes any byte string), so every non-utf8
#: candidate maps onto iso-8859-1 for the distributed scan.  cp1252-only
#: glyphs (0x80-0x9F) survive byte-exact; they just render as the Latin-1
#: control points — the same contract the reference ends up with.
SPARK_CHARSET = {
    "utf-8": "utf-8",
    "latin-1": "iso-8859-1",
    "cp1252": "iso-8859-1",
    "iso-8859-1": "iso-8859-1",
    "windows-1252": "iso-8859-1",
}


@dataclass(frozen=True)
class CsvDialect:
    encoding: str
    delimiter: str


def _decode_prefix(prefix: bytes) -> tuple[str, str]:
    for enc in ENCODINGS:
        try:
            return enc, prefix.decode(enc)
        except UnicodeDecodeError:
            if enc == "utf-8" and len(prefix) == SNIFF_BYTES:
                # The prefix may end mid-multibyte-sequence; retry without
                # the tail before falling through to latin-1.
                try:
                    return enc, prefix[:-4].decode(enc)
                except UnicodeDecodeError:
                    pass
            continue
    raise ValueError("no candidate encoding decodes the file prefix")


def _delimiter_ok(header: str, first_data: str | None, delim: str) -> bool:
    """ADR-004 acceptance rules on header + first data line
    (s3_service.py:114-239)."""
    fields = [f.strip() for f in header.split(delim)]
    if len(fields) <= 1:
        return False
    if not any(fields):
        return False
    rivals = [d for d in DELIMITERS if d != delim]
    # Field names containing a rival delimiter mean we split on the wrong
    # one (e.g. "email,first_name" as a single ;-field).
    if any(any(r in f for r in rivals) for f in fields if f):
        return False
    # The first data line must also split (>1 field, >=1 non-empty value)
    # — the reference's wrong-delimiter production bug was a header that
    # happened to split while every data row collapsed into one column.
    if first_data is not None:
        data_fields = first_data.split(delim)
        if len(data_fields) <= 1:
            return False
        if not any(f.strip() for f in data_fields):
            return False
    return True


def _read_prefix(spark: SparkSession, path: str) -> bytes:
    """The first ``SNIFF_BYTES`` of ``path`` via its Hadoop FileSystem,
    on the driver: no Spark job, never more than the prefix read.  A
    missing or unreadable file raises ``OSError`` carrying the Java
    exception's one-line message."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        stream = fs.open(hpath)
        try:
            return bytes(stream.readNBytes(SNIFF_BYTES))
        finally:
            stream.close()
    except Py4JJavaError as e:
        raise OSError(e.java_exception.toString()) from None


def sniff_csv_dialect(spark: SparkSession, path: str) -> CsvDialect:
    """Detect (encoding, delimiter) from a bounded file prefix.

    One driver-side read of at most ``SNIFF_BYTES`` through the path's
    Hadoop FileSystem — no Spark job, never a full parse of the data file.
    """
    prefix = _read_prefix(spark, path)
    encoding, text = _decode_prefix(prefix)
    lines = [ln for ln in text.splitlines() if ln.strip()]
    header = lines[0] if lines else ""
    first_data = lines[1] if len(lines) > 1 else None
    for delim in DELIMITERS:
        if _delimiter_ok(header, first_data, delim):
            return CsvDialect(encoding=encoding, delimiter=delim)
    return CsvDialect(encoding=encoding, delimiter=",")  # reference fallback


def read_contacts_csv(spark: SparkSession, path: str,
                      dialect: CsvDialect | None = None) -> DataFrame:
    """Read a contacts CSV with sniffed dialect and reference cleanup.

    Output: cleaned string columns (trimmed names/values, empty-name
    columns dropped, all-empty rows dropped) plus ``row_number`` — the
    1-based physical position (W1; the one order-sensitive operator,
    derived from the single-file read order).
    """
    configure(spark)
    d = dialect or sniff_csv_dialect(spark, path)
    df = (
        spark.read.option("header", True)
        .option("sep", d.delimiter)
        .option("encoding", SPARK_CHARSET.get(d.encoding, "iso-8859-1"))
        .option("mode", "PERMISSIVE")
        # RFC 4180 doubled-quote escaping ("" -> ") — what the
        # reference's csv.DictReader does; Spark's default escape is
        # backslash, which would leave `"a ""b"""` unparsed.
        .option("escape", '"')
        .csv(path)
    )
    # S8: trim header names; drop empty-name columns (trailing ';;' makes
    # unnamed columns that Spark calls _c<N> — drop those too).
    keep = []
    renames = {}
    for c in df.columns:
        name = c.strip()
        # Drop only truly unnamed columns: empty after trim, or Spark's
        # auto-generated _c<N> placeholders (a real header like
        # "_company" must survive).
        if not name or re.fullmatch(r"_c\d+", name):
            continue
        keep.append(c)
        renames[c] = name
    df = df.select([F.col(f"`{c}`").alias(renames[c]) for c in keep])
    # Trim every value; empty strings -> null for uniform "missing".
    trimmed = [
        F.when(F.length(F.trim(F.col(f"`{c}`"))) == 0, None)
        .otherwise(F.trim(F.col(f"`{c}`"))).alias(c)
        for c in df.columns
    ]
    df = df.select(trimmed)
    # Drop rows with no non-empty value (s3_service.py:173-174).
    any_value = None
    for c in df.columns:
        cond = F.col(f"`{c}`").isNotNull()
        any_value = cond if any_value is None else (any_value | cond)
    df = df.filter(any_value)
    # W1: physical file order is semantic (feeds the row hash).  A single
    # CSV file preserves order within the scan; monotonically_increasing_id
    # is non-decreasing with file position, so ordering by it reproduces
    # the reference's enumerate(rows, start=1).
    from pyspark.sql import Window

    df = df.withColumn("_pos", F.monotonically_increasing_id())
    df = df.withColumn(
        "row_number",
        F.row_number().over(Window.orderBy("_pos")).cast("long"),
    ).drop("_pos")
    return df
