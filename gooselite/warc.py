"""From-scratch WARC/1.0 writer + reader (the Common-Crawl container).

The north rule's input is an Iceberg table of Common-Crawl-style pages;
upstream of that table sits the crawl's native interchange format —
WARC: concatenated records, each a header block (CRLF lines, terminated
by a blank line) plus a Content-Length-framed body, records separated
by CRLF CRLF, and — in Common Crawl's convention — each record
compressed as its *own gzip member* so readers can split files on
member boundaries without decompressing the whole archive.

This module implements that framing from the spec: the writer emits
warcinfo / request / response records (response bodies are full HTTP
messages), and the reader walks gzip members via
``zlib.decompressobj(wbits=31)`` + ``unused_data`` (also accepting
uncompressed streams), parses record headers case-insensitively,
frames bodies by Content-Length, and splits HTTP headers from payloads.
`read_warc_safe` is total over hostile bytes (fuzz-verified in
tests/test_warc.py).
"""
from __future__ import annotations

import re
import zlib
from typing import List, NamedTuple, Optional

_CRLF = b"\r\n"
# an HTTP start line: a status line, or a request line (method SP
# target SP version) — never a header field, whose name has no space
_START_LINE = re.compile(rb"HTTP/|[^\s:]+ \S+ HTTP/")


class WarcRecord(NamedTuple):
    rec_type: str          # 'warcinfo' | 'request' | 'response' | ...
    url: Optional[str]     # WARC-Target-URI if present
    date: Optional[str]    # WARC-Date if present
    http_status: Optional[int]  # for HTTP-message bodies
    payload: bytes         # HTTP body for request/response; raw block else
    http_headers: Optional[bytes] = None  # raw HTTP header block (response)


def _record_bytes(headers: List[tuple], block: bytes) -> bytes:
    out = bytearray(b"WARC/1.0" + _CRLF)
    for k, v in headers:
        out += f"{k}: {v}".encode() + _CRLF
    out += f"Content-Length: {len(block)}".encode() + _CRLF + _CRLF
    out += block + _CRLF + _CRLF
    return bytes(out)


def _gzip_member(raw: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, 31)  # wbits 31 = gzip wrapper
    return co.compress(raw) + co.flush()


def write_warc(pages, warc_date: str = "2026-01-01T00:00:00Z",
               gzip_records: bool = True, with_warcinfo: bool = True,
               with_requests: bool = True) -> bytes:
    """Serialize (url, payload_bytes) pairs as a WARC file.  Response
    bodies are full HTTP/1.1 messages; optional warcinfo and request
    records are interleaved so readers must dispatch on WARC-Type."""
    records: List[bytes] = []
    if with_warcinfo:
        info = b"software: gooselite-warc/1.0\r\nformat: WARC File Format 1.0\r\n"
        records.append(_record_bytes(
            [("WARC-Type", "warcinfo"), ("WARC-Date", warc_date),
             ("Content-Type", "application/warc-fields")], info))
    for page in pages:
        # (url, payload) or (url, payload, status_line, extra_headers) —
        # the long form lets crawl probes synthesize non-200 responses
        # (redirects, errors, throttles) with realistic header sets.
        url, payload = page[0], page[1]
        status_line = page[2] if len(page) > 2 else "200 OK"
        extra = list(page[3]) if len(page) > 3 else \
            [("Content-Type", "text/html; charset=utf-8")]
        if with_requests:
            req = (f"GET {url} HTTP/1.1\r\nHost: example.com\r\n\r\n").encode()
            records.append(_record_bytes(
                [("WARC-Type", "request"), ("WARC-Date", warc_date),
                 ("WARC-Target-URI", url),
                 ("Content-Type", "application/http; msgtype=request")], req))
        # the writer frames the body itself: a caller's Content-Length
        # would be a second, possibly conflicting, one
        head = b"".join(f"{k}: {v}".encode() + _CRLF for k, v in extra
                        if k.lower() != "content-length")
        http = (f"HTTP/1.1 {status_line}".encode() + _CRLF + head
                + f"Content-Length: {len(payload)}".encode() + _CRLF + _CRLF
                + payload)
        records.append(_record_bytes(
            [("WARC-Type", "response"), ("WARC-Date", warc_date),
             ("WARC-Target-URI", url),
             ("Content-Type", "application/http; msgtype=response")], http))
    if gzip_records:
        return b"".join(_gzip_member(r) for r in records)
    return b"".join(records)


def write_wet(docs, warc_date: str = "2026-01-01T00:00:00Z",
              gzip_records: bool = True, with_warcinfo: bool = True) -> bytes:
    """Serialize (url, extracted_text) pairs as a WET file — Common
    Crawl's extracted-text sidecar: the same WARC/1.0 framing, but each
    document is a ``conversion`` record whose body is the plain
    extracted text (no HTTP message), plus the leading warcinfo."""
    records: List[bytes] = []
    if with_warcinfo:
        info = (b"software: gooselite-warc/1.0\r\n"
                b"format: WARC File Format 1.0\r\n"
                b"conformsTo: WET extraction sidecar\r\n")
        records.append(_record_bytes(
            [("WARC-Type", "warcinfo"), ("WARC-Date", warc_date),
             ("Content-Type", "application/warc-fields")], info))
    for url, text in docs:
        body = text.encode("utf-8") if isinstance(text, str) else bytes(text)
        records.append(_record_bytes(
            [("WARC-Type", "conversion"), ("WARC-Date", warc_date),
             ("WARC-Target-URI", url),
             ("Content-Type", "text/plain")], body))
    if gzip_records:
        return b"".join(_gzip_member(r) for r in records)
    return b"".join(records)


def write_wat(entries, warc_date: str = "2026-01-01T00:00:00Z",
              gzip_records: bool = True, with_warcinfo: bool = True) -> bytes:
    """Serialize (url, json_payload_bytes) pairs as a WAT file — Common
    Crawl's metadata sidecar: the same WARC/1.0 framing, but each page
    is a ``metadata`` record whose body is the page's JSON envelope
    (outlinks, title, headers …), plus the leading warcinfo."""
    records: List[bytes] = []
    if with_warcinfo:
        info = (b"software: gooselite-warc/1.0\r\n"
                b"format: WARC File Format 1.0\r\n"
                b"conformsTo: WAT metadata sidecar\r\n")
        records.append(_record_bytes(
            [("WARC-Type", "warcinfo"), ("WARC-Date", warc_date),
             ("Content-Type", "application/warc-fields")], info))
    for url, payload in entries:
        body = payload if isinstance(payload, (bytes, bytearray)) \
            else str(payload).encode("utf-8")
        records.append(_record_bytes(
            [("WARC-Type", "metadata"), ("WARC-Date", warc_date),
             ("WARC-Target-URI", url),
             ("Content-Type", "application/json")], bytes(body)))
    if gzip_records:
        return b"".join(_gzip_member(r) for r in records)
    return b"".join(records)


def _inflate_members(b: bytes) -> bytes:
    """Concatenate all gzip members; pass through uncompressed input."""
    if b[:2] != b"\x1f\x8b":
        return b
    out, rest = bytearray(), b
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(31)
        out += d.decompress(rest)
        out += d.flush()
        if not d.eof:
            raise ValueError("truncated gzip member")
        rest = d.unused_data
    if rest:
        raise ValueError("trailing garbage after gzip members")
    return bytes(out)


def read_warc(b: bytes) -> List[WarcRecord]:
    """Parse every record in a WARC byte string (gzipped-per-record or
    plain).  Raises ValueError on framing violations."""
    raw = _inflate_members(bytes(b))
    records: List[WarcRecord] = []
    pos = 0
    while pos < len(raw):
        if raw[pos:pos + 2] == _CRLF:  # tolerate stray separators
            pos += 2
            continue
        head_end = raw.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            raise ValueError("unterminated record header")
        head_lines = raw[pos:head_end].split(_CRLF)
        if not head_lines[0].startswith(b"WARC/"):
            raise ValueError(f"bad record magic at {pos}")
        fields = {}
        for line in head_lines[1:]:
            k, _, v = line.partition(b":")
            fields[k.strip().lower().decode("latin-1")] = \
                v.strip().decode("latin-1")
        try:
            length = int(fields["content-length"])
        except (KeyError, ValueError):
            raise ValueError("missing/invalid Content-Length") from None
        body_at = head_end + 4
        if body_at + length > len(raw):
            raise ValueError("record body truncated")
        block = raw[body_at:body_at + length]
        rec_type = fields.get("warc-type", "unknown")
        status, payload, http_head = None, block, None
        first_line = block.split(_CRLF, 1)[0]
        # HTTP message: status line (HTTP/1.1 200 OK) or request line
        # (GET <uri> HTTP/1.1) — version token leads or trails.
        is_http = first_line[:5] == b"HTTP/" or b" HTTP/" in first_line
        if rec_type in ("request", "response") and is_http:
            sep = block.find(_CRLF + _CRLF)
            if sep >= 0:
                payload = block[sep + 4:]
                http_head = block[:sep]
                first = first_line.split(b" ")
                if rec_type == "response" and len(first) >= 2 \
                        and first[1].isdigit():
                    status = int(first[1])
        records.append(WarcRecord(rec_type, fields.get("warc-target-uri"),
                                  fields.get("warc-date"), status, payload,
                                  http_head))
        pos = body_at + length
        if raw[pos:pos + 4] == _CRLF + _CRLF:
            pos += 4
        elif pos != len(raw):
            raise ValueError("missing record separator")
    return records


def parse_http_headers(head: Optional[bytes]) -> dict:
    """Parse a raw HTTP header block (an optional status or request
    line, then CRLF header lines) into a lowercase-keyed dict. Duplicate
    field names are joined with ", " per RFC 9110 §5.2
    list-combination; malformed lines (no colon) are skipped. Returns
    {} for None/empty input."""
    out: dict = {}
    if not head:
        return out
    lines = head.split(_CRLF)
    if _START_LINE.match(lines[0]):
        del lines[0]
    for line in lines:
        k, sep, v = line.partition(b":")
        if not sep or not k.strip():
            continue
        key = k.strip().lower().decode("latin-1")
        val = v.strip().decode("latin-1")
        out[key] = out[key] + ", " + val if key in out else val
    return out


def read_warc_safe(b) -> Optional[List[WarcRecord]]:
    """Total parse: None on anything that is not a well-formed WARC."""
    try:
        if not isinstance(b, (bytes, bytearray)):
            return None
        return read_warc(bytes(b))
    except Exception:
        return None


def read_warc_salvage(b) -> tuple:
    """Member-level salvage parse for per-record-gzipped WARCs: a
    corrupt member (flipped bytes, bad CRC, truncation, framing
    violation inside the member) is skipped and counted, and parsing
    resumes at the next gzip magic — the behavior a Common-Crawl-scale
    reader needs, since a single damaged member must never discard the
    surrounding ~1 GB segment.

    Returns (records, n_bad_regions). n_bad_regions >= the number of
    corrupt members: resyncing on the 3-byte gzip magic can first land
    on a false magic inside a corrupt member's compressed remainder and
    count the same damage twice before reaching the next real member
    (each retry advances strictly, so termination is guaranteed; good
    members are never affected — they are entered via the previous
    member's ``unused_data``, not by magic-scanning).

    Plain (uncompressed) input — recognized by its ``WARC/`` magic —
    has no member framing to salvage on: it parses all-or-nothing like
    read_warc_safe. Input that starts with NEITHER magic is treated as
    a damaged leading region: parsing resyncs at the first gzip magic
    (a flip in byte 0/1 must not discard the segment either). Any
    buffer type accepted by ``bytes()`` works (memoryview included).
    """
    try:
        data = bytes(b)
    except TypeError:
        return [], 1
    if data[:2] != b"\x1f\x8b":
        # plain (uncompressed) WARC: all-or-nothing, nothing to salvage
        if data[:5] == b"WARC/":
            recs = read_warc_safe(data)
            return (recs or [], 0 if recs is not None else 1)
        # damaged LEADING region of a gzipped archive (e.g. a bit flip
        # in the very first member's magic): resync forward like the
        # mid-stream path instead of discarding the whole segment
        nxt = data.find(b"\x1f\x8b\x08")
        if nxt < 0:
            return [], 1
        rest = data[nxt:]
        records: List[WarcRecord] = []
        bad = 1
    else:
        rest = data
        records = []
        bad = 0
    while rest:
        if rest[:2] != b"\x1f\x8b":
            nxt = rest.find(b"\x1f\x8b\x08")
            bad += 1
            if nxt < 0:
                break
            rest = rest[nxt:]
            continue
        d = zlib.decompressobj(31)
        try:
            raw = d.decompress(rest) + d.flush()
            if not d.eof:
                raise ValueError("truncated gzip member")
            nxt_rest = d.unused_data
        except Exception:
            nxt = rest.find(b"\x1f\x8b\x08", 2)
            bad += 1
            if nxt < 0:
                break
            rest = rest[nxt:]
            continue
        recs = read_warc_safe(raw)
        if recs is None:
            bad += 1
        else:
            records.extend(recs)
        rest = nxt_rest
    return records, bad
