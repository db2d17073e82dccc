"""WET (WARC text-conversion) corpus source — the format web-scale
training corpora actually ship in (Common Crawl's ``*.warc.wet.gz``
files; WARC/1.0 is ISO 28500, public).

Spark-first design: no Python parser, no per-record UDF. The text
source splits the file on the ``WARC/1.0`` record marker (custom
``lineSep``), and everything else — header-field extraction, record
typing, body isolation — is JVM-side string expressions over each
record blob:

- one record per row: ``lineSep = "WARC/1.0\\r\\n"`` (the version line
  that starts every record; the pre-marker prefix row is empty and is
  dropped). Bodies are text CONVERSIONS (that's what WET is), so the
  marker cannot appear inside a record body unless the original page
  embedded a verbatim WARC file — the documented corner of this
  splitting strategy. A record torn by an embedded marker splits in
  two, and BOTH halves are caught, never crash the read, and never
  ship wrong text: the trailing fragment has no valid header and
  lands in the quarantine count as ``_torn``; the leading fragment
  keeps its valid header but a TRUNCATED body, which the
  Content-Length check detects (re-encoded body bytes < declared
  length — strictly-shorter, so U+FFFD-inflated complete bodies from
  invalid UTF-8 input still pass) — dropped from :func:`read_wet`,
  counted as ``_truncated`` (ADVICE r4, tightened r6 per ADVICE r5).
- header block = everything before the first blank line
  (``\\r\\n\\r\\n``); fields via RE2-safe ``regexp_extract`` with
  case-insensitive names; the body is the remainder with record
  padding trimmed. Content-Length is BYTE-denominated and bodies here
  are decoded strings, so the body is delimited by the blank line +
  end-of-split rather than byte-sliced — documented approximation,
  exact for well-formed WET.
- ``try_to_timestamp`` for WARC-Date (one malformed date must not
  abort a distributed read — the repo's ANSI rule), lowercase
  normalization nowhere near the body (payload bytes are sacred).

Scale notes: gzip members are not splittable, so per-file parallelism
is 1 — exactly how Common Crawl ships (tens of thousands of ~150 MB
files per dump; the file count IS the parallelism, same property the
JSONL source documents). ``spark.read.text`` decompresses by
extension; pass many files or a glob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: record marker: every WARC record starts with this version line
WARC_MARKER = "WARC/1.0\r\n"

_HEADER_SPLIT = "\r\n\r\n"


def _header_field(header: F.Column, name: str) -> F.Column:
    """Value of a ``Name: value`` header line (case-insensitive name,
    RE2-safe — no lookarounds)."""
    return F.nullif(
        F.regexp_extract(header, rf"(?im)^{name}:[ \t]*([^\r\n]*)", 1),
        F.lit(""))


def _length_mismatch(header: F.Column, body: F.Column) -> F.Column:
    """True when the re-encoded body's byte count is SHORTER than the
    declared Content-Length — the signature of a record torn by an
    embedded ``WARC/1.0`` marker, whose LEADING fragment keeps a valid
    header over silently truncated text (module docstring). The torn
    fragment is always strictly shorter than declared (the tail moved
    to the next split), so ``<`` catches every torn/truncated leading
    fragment. A strict inequality — not ``!=`` — because real Common
    Crawl WET routinely carries invalid UTF-8 bytes: Spark's text read
    decodes each bad byte to U+FFFD, which re-encodes as 3 bytes, so a
    COMPLETE record can legitimately re-encode LONGER than declared and
    must pass (ADVICE r5). Records without a parseable Content-Length
    pass (``try_cast``: one bad header must not abort the read)."""
    declared = _header_field(header, "Content-Length").try_cast("long")
    return (declared.isNotNull()
            & (F.octet_length(F.encode(body, "UTF-8")) < declared))


def parse_wet_records(rec: DataFrame, *,
                      value_col: str = "value") -> DataFrame:
    """Parse a frame of raw WET record blobs (one record per row, the
    ``WARC/1.0`` marker already stripped by the lineSep split) into
    ``(warc_type, record_id, url, warc_date, text)`` — the shared
    parsing core of :func:`read_wet` and
    :func:`wet_quarantine_counts`, exposed so the header-extraction and
    quarantine-classification semantics are directly testable (and
    oracle-comparable) on constructed record strings without file I/O.

    ``warc_type`` carries the quarantine sentinels: ``_torn`` for
    records with no blank-line header/body split or no parseable type,
    ``_truncated`` for a valid header whose body re-encodes SHORTER
    than Content-Length (the leading fragment of a marker-torn record;
    see :func:`_length_mismatch` for why strictly-shorter)."""
    value = F.col(value_col)
    header = F.substring_index(value, _HEADER_SPLIT, 1)
    # body = record minus header block and the blank line, with the
    # record-terminating CRLF pair stripped (ONE exact suffix — real
    # trailing newlines inside the conversion text survive; plain rtrim
    # trims only spaces, so it cannot do this). Torn records (no blank
    # line) yield an empty body.
    body = F.regexp_replace(
        F.expr(f"substring({value_col}, length(substring_index({value_col}, "
               f"'{_HEADER_SPLIT}', 1)) + {len(_HEADER_SPLIT) + 1})"),
        r"\r\n\r\n$", "")
    typ = (F.when(~value.contains(_HEADER_SPLIT), F.lit("_torn"))
           .when(_length_mismatch(header, body), F.lit("_truncated"))
           .otherwise(F.coalesce(_header_field(header, "WARC-Type"),
                                 F.lit("_torn"))))
    return rec.select(
        typ.alias("warc_type"),
        _header_field(header, "WARC-Record-ID").alias("record_id"),
        _header_field(header, "WARC-Target-URI").alias("url"),
        F.try_to_timestamp(
            _header_field(header, "WARC-Date"),
            F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")).alias("warc_date"),
        body.alias("text"))


def read_wet(spark: SparkSession, path: str, *,
             min_text_chars: int = 1) -> DataFrame:
    """Read WET files into ``(record_id, url, warc_date, n_chars,
    text)`` — one row per ``conversion`` record (the page-text records;
    ``warcinfo`` headers and empty bodies are dropped, and records
    shorter than ``min_text_chars`` are filtered — Common Crawl WET
    carries many empty extractions).

    Key the records as documents for the ``llm`` operators::

        docs = (read_wet(spark, "cc/*.warc.wet.gz")
                .select(F.xxhash64("record_id").alias("doc_id"),
                        "text", "url"))
        kept = exact_dedup(docs)
    """
    rec = (spark.read.option("lineSep", WARC_MARKER).text(path)
           .filter(F.col("value") != ""))
    return (parse_wet_records(rec)
            # the quarantine sentinels (_torn/_truncated) fall out here
            # with every non-conversion record type
            .filter(F.col("warc_type") == "conversion")
            .drop("warc_type")
            .withColumn("n_chars", F.length("text"))
            .filter(F.col("n_chars") >= min_text_chars)
            .select("record_id", "url", "warc_date", "n_chars", "text"))


def wet_quarantine_counts(spark: SparkSession, path: str) -> DataFrame:
    """Read-health sidecar: records per WARC-Type plus the torn-record
    count (``_torn``: no blank-line header/body split or missing type)
    and the truncated-record count (``_truncated``: valid header whose
    body re-encodes SHORTER than Content-Length — the leading fragment
    of a marker-torn record; longer-than-declared bodies are complete
    records whose invalid input bytes decoded to U+FFFD and are NOT
    quarantined) — the never-silently-drop accounting the
    JSONL source's quarantine frame provides, at WET grain. One extra
    scan; run on samples or alongside ingest."""
    rec = (spark.read.option("lineSep", WARC_MARKER).text(path)
           .filter(F.col("value") != ""))
    return (parse_wet_records(rec).select("warc_type")
            .groupBy("warc_type").agg(F.count("*").alias("n_records")))
