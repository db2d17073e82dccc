"""WET (Common Crawl) source: record splitting, header parsing, type
filtering, gzip transparency, torn-record accounting, and composition
into the text-prep operators — all against a spec-shaped handwritten
fixture."""

from __future__ import annotations

import gzip
import os

from pyspark.sql import functions as F

from apsviz_timeseriesdb_ingest_spark.sources.warc import (
    read_wet,
    wet_quarantine_counts,
)


def _wet_bytes() -> bytes:
    def record(headers: dict, body: str) -> str:
        headers = {**headers,
                   "Content-Length": str(len(body.encode("utf-8")))}
        head = "".join(f"{k}: {v}\r\n" for k, v in headers.items())
        return f"WARC/1.0\r\n{head}\r\n{body}\r\n\r\n"

    info = record(
        {"WARC-Type": "warcinfo", "WARC-Record-ID": "<urn:uuid:info>"},
        "robots: obey")
    page1 = record(
        {"WARC-Type": "conversion",
         "WARC-Target-URI": "https://example.com/a",
         "WARC-Date": "2024-03-01T12:30:00Z",
         "WARC-Record-ID": "<urn:uuid:r1>"},
        "Hello crawl world.\nSecond line of page one.")
    empty = record(
        {"WARC-Type": "conversion",
         "WARC-Target-URI": "https://example.com/empty",
         "WARC-Date": "2024-03-01T12:31:00Z",
         "WARC-Record-ID": "<urn:uuid:r2>"}, "")
    bad_date = record(
        {"WARC-Type": "conversion",
         "WARC-Target-URI": "https://example.com/b",
         "WARC-Date": "not-a-date",
         "WARC-Record-ID": "<urn:uuid:r3>"}, "Short doc")
    # a page that embedded a verbatim WARC marker: the lineSep split
    # tears it — leading fragment keeps a valid header over TRUNCATED
    # text (Content-Length disagrees), trailing fragment is headerless
    embedded = record(
        {"WARC-Type": "conversion",
         "WARC-Target-URI": "https://example.com/embedded",
         "WARC-Date": "2024-03-01T12:32:00Z",
         "WARC-Record-ID": "<urn:uuid:r4>"},
        "page quoting a warc file WARC/1.0\r\ntail after the marker")
    torn = "WARC/1.0\r\nWARC-Type: conversion\r\nno blank line here"
    # a COMPLETE record whose raw bytes are invalid UTF-8 (routine in
    # real Common Crawl WET): Content-Length counts the RAW bytes, but
    # Spark's text read decodes the bad byte to U+FFFD (3 bytes), so the
    # re-encoded body is LONGER than declared — must NOT be quarantined
    # (ADVICE r5: strictly-shorter comparison, not !=)
    bad_body = b"caf\xe9 au lait"
    bad_head = ("WARC-Type: conversion\r\n"
                "WARC-Target-URI: https://example.com/latin1\r\n"
                "WARC-Date: 2024-03-01T12:33:00Z\r\n"
                "WARC-Record-ID: <urn:uuid:r5>\r\n"
                f"Content-Length: {len(bad_body)}\r\n")
    bad_utf8 = (b"WARC/1.0\r\n" + bad_head.encode() + b"\r\n"
                + bad_body + b"\r\n\r\n")
    return ((info + page1 + empty + bad_date + embedded).encode()
            + bad_utf8 + torn.encode())


def _write(tmp_path, gz: bool) -> str:
    d = tmp_path / ("gz" if gz else "plain")
    os.makedirs(d, exist_ok=True)
    p = d / ("part-0.warc.wet" + (".gz" if gz else ""))
    data = _wet_bytes()
    if gz:
        with gzip.open(p, "wb") as f:
            f.write(data)
    else:
        p.write_bytes(data)
    return str(d)


def test_read_wet_parses_records(spark, tmp_path):
    for gz in (False, True):
        df = read_wet(spark, _write(tmp_path, gz))
        rows = {r.record_id: r for r in df.collect()}
        # warcinfo, the empty conversion, and the torn record are out;
        # the invalid-UTF-8 complete record r5 SURVIVES (body decodes
        # with U+FFFD, re-encodes longer than declared — not truncated)
        assert set(rows) == {"<urn:uuid:r1>", "<urn:uuid:r3>",
                             "<urn:uuid:r5>"}, gz
        r1 = rows["<urn:uuid:r1>"]
        assert r1.url == "https://example.com/a"
        assert r1.text == "Hello crawl world.\nSecond line of page one."
        assert r1.n_chars == len(r1.text)
        assert str(r1.warc_date) == "2024-03-01 12:30:00"
        # malformed date -> NULL (try_to_timestamp), record survives
        assert rows["<urn:uuid:r3>"].warc_date is None
        assert rows["<urn:uuid:r3>"].text == "Short doc"
        assert rows["<urn:uuid:r5>"].text == "caf\ufffd au lait"


def test_read_wet_min_chars_and_quarantine(spark, tmp_path):
    path = _write(tmp_path, False)
    assert read_wet(spark, path, min_text_chars=10).count() == 2
    q = {r.warc_type: r.n_records
         for r in wet_quarantine_counts(spark, path).collect()}
    # _torn = the headerless trailing fragment of the embedded-marker
    # record + the original torn record; _truncated = that record's
    # leading fragment (valid header, body re-encodes SHORTER than
    # Content-Length); r5's U+FFFD-inflated complete body counts as a
    # plain conversion, not _truncated
    assert q == {"warcinfo": 1, "conversion": 4, "_torn": 2,
                 "_truncated": 1}


def test_read_wet_composes_into_pipeline(spark, tmp_path):
    """The advertised composition: WET records become prep docs and
    flow through normalization, the Gopher drop tag and exact dedup
    end to end."""
    from apsviz_timeseriesdb_ingest_spark.llm.dedup import exact_dedup
    from apsviz_timeseriesdb_ingest_spark.llm.text import (
        gopher_drop_reason,
        gopher_quality_stats,
        normalize_unicode,
    )

    docs = normalize_unicode(
        read_wet(spark, _write(tmp_path, True))
        .select(F.xxhash64("record_id").alias("doc_id"), "text", "url"))
    audit = gopher_quality_stats(
        docs, stopwords=("hello", "of", "line", "doc", "short")).select(
        "doc_id",
        F.when(F.col("n_tokens") < 2, F.lit("too_short"))
        .otherwise(gopher_drop_reason()).alias("drop_reason"))
    assert audit.count() == 3
    kept = docs.join(audit.filter(F.col("drop_reason").isNull()), "doc_id")
    assert exact_dedup(kept).count() >= 1
