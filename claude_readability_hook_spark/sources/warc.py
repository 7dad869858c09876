"""WARC (ISO 28500) ingestion — the source format web-scale corpora
actually arrive in (Common Crawl ships gzipped WARC segments).

Pure-Python record walk, no warc library: records are
"WARC/1.0\\r\\n<headers>\\r\\n\\r\\n<Content-Length bytes>\\r\\n\\r\\n";
Content-Length is authoritative for the body slice (bodies are binary
and may contain anything). Both packaging conventions are handled:

  plain / whole-file gzip   one deflate stream over the whole segment
  member-per-record gzip    Common Crawl's convention — each record its
                            own gzip member, concatenated; the reader
                            loops gzip members via zlib unused_data

Spark shape: one WARC segment file = one task (`binaryFile` source —
segments are sized ~1 GB by convention, which bounds task memory; the
same reason Common Crawl ships thousands of segment files). The parse
runs scan-side in mapInPandas and emits a documents-shaped frame
(doc_id, url, source, text) that feeds corpus_from_flat /
run_extraction directly — WARC in, extracted spans out.

Reference parity: claude-readability-hook fetches live HTML per URL
(apps/gateway); a batch engine ingests the crawl archive instead —
same documents, no fetch.
"""

from __future__ import annotations

import gzip
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._pyworker import python_stage

_CRLF2 = b"\r\n\r\n"


def _gunzip_members(payload: bytes) -> bytes:
    """Concatenated gzip members → concatenated plaintext (the
    member-per-record convention); a single member is the degenerate
    case, so this also handles whole-file gzip."""
    out = []
    rest = payload
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out.append(d.decompress(rest))
        out.append(d.flush())
        rest = d.unused_data
    return b"".join(out)


def parse_warc(payload: bytes) -> Iterator[dict]:
    """Yield {type, uri, record_id, body} per WARC record. Tolerant of
    leading noise between records (scans to the next WARC/ magic);
    Content-Length slices the body so binary bodies never confuse the
    walk. Malformed headers raise ValueError (poison isolation is the
    caller's mapInPandas try/except)."""
    if payload[:2] == b"\x1f\x8b":
        payload = _gunzip_members(payload)
    pos = 0
    while True:
        start = payload.find(b"WARC/", pos)
        if start == -1:
            return
        hdr_end = payload.find(_CRLF2, start)
        if hdr_end == -1:
            return
        headers: dict[str, str] = {}
        lines = payload[start:hdr_end].split(b"\r\n")
        for line in lines[1:]:
            if b":" in line:
                k, v = line.split(b":", 1)
                headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                    "latin-1"
                )
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as exc:
            raise ValueError("WARC record without valid Content-Length") from exc
        body_start = hdr_end + len(_CRLF2)
        body = payload[body_start : body_start + length]
        yield {
            "type": headers.get("warc-type", ""),
            "uri": headers.get("warc-target-uri", ""),
            "record_id": headers.get("warc-record-id", ""),
            "body": body,
        }
        pos = body_start + length


def http_response_body(body: bytes) -> bytes:
    """A WARC 'response' record body is an HTTP message; the payload
    follows the first blank line. Non-HTTP bodies pass through."""
    if body[:5] in (b"HTTP/",):
        sep = body.find(_CRLF2)
        if sep != -1:
            return body[sep + len(_CRLF2) :]
    return body


def synthesize_warc(
    docs: list[tuple[str, str]],
    member_gzip: bool = False,
    record_type: str = "response",
    encoding: str = "utf-8",
    declare_charset: bool = False,
) -> bytes:
    """Valid WARC 1.0 segment from (url, text) pairs (tests/bench — no
    fixture data): one warcinfo record + one record per doc.
    record_type='response' wraps bodies in an HTTP envelope (a WARC
    crawl segment); 'conversion' writes bare text bodies (a WET
    extracted-text segment). member_gzip=True gzips each record
    separately (the Common Crawl packaging). encoding/declare_charset
    build non-UTF-8 fixtures for the charset-sniffing path (defaults
    reproduce the original byte stream exactly)."""

    def record(rtype: str, uri: str, body: bytes, rid: str) -> bytes:
        hdrs = [
            b"WARC/1.0",
            b"WARC-Type: " + rtype.encode(),
            b"WARC-Record-ID: <urn:uuid:" + rid.encode() + b">",
        ]
        if uri:
            hdrs.append(b"WARC-Target-URI: " + uri.encode())
        hdrs.append(b"Content-Length: " + str(len(body)).encode())
        return b"\r\n".join(hdrs) + _CRLF2 + body + _CRLF2

    ct = b"text/html"
    if declare_charset:
        ct += b"; charset=" + encoding.encode("ascii")
    parts = [record("warcinfo", "", b"software: crh-spark-synth\r\n", "info-0")]
    for i, (url, text) in enumerate(docs):
        payload = text.encode(encoding)
        if record_type == "response":
            payload = (
                b"HTTP/1.1 200 OK\r\nContent-Type: "
                + ct
                + b"\r\nContent-Length: "
                + str(len(payload)).encode()
                + _CRLF2
                + payload
            )
        parts.append(record(record_type, url, payload, f"r-{i}"))
    if member_gzip:
        return b"".join(gzip.compress(p) for p in parts)
    return b"".join(parts)


def wet_to_documents(spark: SparkSession, path: str) -> DataFrame:
    """WET segments (Common Crawl's extracted-text sibling of WARC:
    'conversion' records whose bodies are already plain text, no HTTP
    envelope) → the same documents-shaped frame. Shares the record
    walk; differs only in record type and body handling."""
    return _warc_like_to_documents(spark, path, record_type="conversion", strip_http=False)


def warc_to_documents(spark: SparkSession, path: str) -> DataFrame:
    """WARC segment files (optionally .gz) → documents-shaped frame
    (doc_id, url, source, text). One segment per task via the
    binaryFile source; parse + HTTP-payload strip run scan-side;
    unparseable segments yield zero rows with the error surfaced in
    the _warc_error column of a sibling row (poison isolation — a bad
    segment must not kill the job)."""
    return _warc_like_to_documents(spark, path, record_type="response", strip_http=True)


def _warc_like_to_documents(
    spark: SparkSession, path: str, record_type: str, strip_http: bool
) -> DataFrame:
    import pandas as pd

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in batches:
            records = []
            for fpath, content in zip(batch["path"], batch["content"]):
                seg = fpath.rsplit("/", 1)[-1]
                try:
                    for i, rec in enumerate(parse_warc(bytes(content))):
                        if rec["type"] != record_type:
                            continue
                        body = (
                            http_response_body(rec["body"])
                            if strip_http
                            else rec["body"]
                        )
                        text = body.decode("utf-8", errors="replace")
                        records.append(
                            {
                                "doc_id": f"{seg}#{i}",
                                "url": rec["uri"],
                                "source": seg,
                                "text": text,
                                "_warc_error": None,
                            }
                        )
                except Exception as exc:  # noqa: BLE001 — poison isolation
                    records.append(
                        {
                            "doc_id": f"{seg}#error",
                            "url": None,
                            "source": seg,
                            "text": None,
                            "_warc_error": f"{type(exc).__name__}: {exc}",
                        }
                    )
            yield pd.DataFrame.from_records(
                records,
                columns=["doc_id", "url", "source", "text", "_warc_error"],
            )

    files = spark.read.format("binaryFile").load(path)
    return files.select("path", "content").mapInPandas(
        python_stage(parse),
        schema="doc_id string, url string, source string, text string, _warc_error string",
    )


def http_response_parts(body: bytes) -> tuple[str | None, bytes]:
    """(content_type_header, payload) from an HTTP message body —
    http_response_body plus the one header the charset sniffer wants.
    Non-HTTP bodies pass through with no header."""
    if body[:5] in (b"HTTP/",):
        sep = body.find(_CRLF2)
        if sep != -1:
            ct = None
            for line in body[:sep].split(b"\r\n")[1:]:
                k, _, v = line.partition(b":")
                if k.strip().lower() == b"content-type":
                    ct = v.strip().decode("latin-1", "replace")
                    break
            return ct, body[sep + len(_CRLF2) :]
    return None, body


def warc_to_documents_sniffed(spark: SparkSession, path: str) -> DataFrame:
    """warc_to_documents with charset DETECTION instead of blind
    utf-8/replace: BOM → Content-Type header charset → <meta> charset
    → strict utf-8 trial → cp1252 (core/charset.py — the WHATWG-subset
    ladder every production crawler runs). Adds a `charset` lineage
    column recording the codec each document actually decoded with;
    a cp1252 page arrives as its real characters, not U+FFFD mojibake
    that would poison shingles, n-gram stats and LM scores downstream.

    Kept as a sibling of warc_to_documents (same scan shape, same
    poison isolation) so the original's byte-exact behavior — and its
    driver oracle — stay untouched."""
    import pandas as pd

    from ..core.charset import decode_payload

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for batch in batches:
            records = []
            for fpath, content in zip(batch["path"], batch["content"]):
                seg = fpath.rsplit("/", 1)[-1]
                try:
                    for i, rec in enumerate(parse_warc(bytes(content))):
                        if rec["type"] != "response":
                            continue
                        ct, payload = http_response_parts(rec["body"])
                        text, enc = decode_payload(payload, ct)
                        records.append(
                            {
                                "doc_id": f"{seg}#{i}",
                                "url": rec["uri"],
                                "source": seg,
                                "text": text,
                                "charset": enc,
                                "_warc_error": None,
                            }
                        )
                except Exception as exc:  # noqa: BLE001 — poison isolation
                    records.append(
                        {
                            "doc_id": f"{seg}#error",
                            "url": None,
                            "source": seg,
                            "text": None,
                            "charset": None,
                            "_warc_error": f"{type(exc).__name__}: {exc}",
                        }
                    )
            yield pd.DataFrame.from_records(
                records,
                columns=[
                    "doc_id", "url", "source", "text", "charset", "_warc_error",
                ],
            )

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(
        python_stage(parse),
        schema=(
            "doc_id string, url string, source string, "
            "text string, charset string, _warc_error string"
        ),
    )
